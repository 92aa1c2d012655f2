"""Distributed CQF construction on Spark.

Two build strategies, both shaped for the 10^12-row design point:

``build_qf``  — one merged filter. Shuffle-free: each input partition
    locally pre-aggregates its hashes (numpy unique/count — the map-side
    combine) and emits one serialized partial filter; partials merge under
    an associative slot-level merge through a distributed tree merge
    (``tree_merge``) whose FINAL level also runs executor-side, so the
    driver only receives one finished blob. This is the classic
    mergeable-sketch UDAF shape: the only data movement is tiny filter
    payloads, so hot-key skew cannot concentrate load — a key duplicated
    a billion times costs one (hash, count) pair per partition it
    appears in.

``build_sharded_qf`` — a hash-range-sharded filter collection for
    cardinalities beyond one machine's RAM. Hashes are routed by the top
    ``shard_bits`` of the hash so each shard owns a contiguous,
    uniformly-loaded hash range. Each shard stores ``hash << shard_bits``
    (the shard id carries the top bits — lossless, and quotients stay
    uniform within each shard's table). Shards checkpoint to a versioned
    table of lineage rows: each version is the whole shard table,
    committed from the driver as the next entry of the table's log
    (``sources.commit_version``), and builds resume by skipping the
    shards the newest version holds.

    One exchange, because the expensive step at scale is *moving the
    hashes to their shard builder*: hashes stay JVM-side through routing
    AND grouping. ``groupBy(shard).agg(collect_list(...))`` runs as a
    codegen partial aggregation, so the shuffle moves a few fat array
    rows per (task, shard) instead of per-key rows, and the JVM->Python
    Arrow channel is crossed once per shard, as zero-copy list columns
    (``applyInArrow``). The per-row Arrow channel is what bounds any
    design that feeds raw rows to a Python stage; this path never does.

    Split rule: a list row is one JVM array (~8 B x raw occurrences),
    and Spark bounds a row at 2 GB. When the action-free row estimate
    (``approx_row_count``) puts more than ``ARROW_MAX_ROWS_PER_SHARD``
    raw rows in a shard, each shard is split into
    ``sub = ceil(rows per shard / ARROW_MAX_ROWS_PER_SHARD)`` list rows
    by ``groupBy(shard, sub)`` (``sub`` from the hash's low bits, which
    vary inside a shard), then regrouped by shard; the builder flattens
    every list row of its group, so the payloads do not depend on
    ``sub``. Under the bound, or without an estimate, the plan is the
    single ``groupBy(shard)`` aggregate with no second exchange.

    Payloads can be written as *sidecar files* (``payload_dir``; for a
    checkpointed build the default is ``<checkpoint_path>/_payloads/``):
    each shard task writes its serialized filter to content-addressed
    storage executor-side and the table row carries the path — at the
    10^12 design point a shard payload is ~1 GB, which belongs in shared
    storage, not in a parquet binary cell (and not in the Arrow channel
    or the driver).

Hashing is JVM-side (``F.xxhash64``, whole-stage codegen) for the default
hash; murmur64a/fnv1a fall back to a vectorized Arrow pandas UDF. No
per-row Python anywhere.

NULL policy: NULL keys are dropped at build time and never match at probe
time (a NULL is not a key; Spark's xxhash64(NULL)=seed would otherwise
disagree with every other engine's byte-hash of an absent value).
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from . import __version__ as _CODE_VERSION, sources
from .kernel import QF
from .serde import qf_from_bytes, qf_to_bytes
from .sizing import QFConfig

DEFAULT_HASH = "xxhash64"

HASH_COL = "qf_hash"

# The sharded build's exchange materializes a shard's pre-unique hashes as
# JVM collect_list rows (~8 B per raw occurrence each), and Spark bounds a
# row at 2 GB. Above this many estimated raw rows per shard, each shard is
# split into several list rows (see build_sharded_qf); half the ~1e8 rows
# a 2 GB row could hold leaves headroom for skewed shards.
ARROW_MAX_ROWS_PER_SHARD = 50_000_000

# build_qf inputs estimated (action-free, never under-estimating) at or
# below this many raw rows skip the mapInPandas partial-aggregation
# stage: the JVM-hashed column is Arrow-collected directly (~8 B/row,
# so <= ~32 MB through the driver) and deduped in one driver-side sort —
# one codegen-only Spark job instead of a Python-worker stage + blob
# collect. Above it, the partial path bounds driver traffic at ~12 B per
# DISTINCT key per partition (the documented build_qf RAM contract).
SMALL_BUILD_COLLECT_ROWS = 4_000_000


def _u64(series_or_array) -> np.ndarray:
    """Reinterpret a signed int64 hash column as uint64 (two's complement)."""
    if isinstance(series_or_array, pd.Series):
        series_or_array = series_or_array.to_numpy(dtype=np.int64)
    return series_or_array.view(np.uint64)


def hash_column(col, hash_name: str = DEFAULT_HASH,
                dtype: str | None = None) -> Column:
    """A Column of 64-bit hashes (as signed int64 bit patterns) of ``col``.

    xxhash64 runs JVM-side inside codegen; other hashes use a vectorized
    Arrow pandas UDF over the key bytes.

    Keys are hashed over their *byte representation*: string and binary
    columns as-is, everything else cast to its string rendering first —
    so a filter built in Spark answers probes made from Python strings
    (``qf.lookup_keys``/CLI) consistently. Pass ``dtype`` (the column's
    Spark type name) when known; without it, non-string columns are
    defensively cast to string.
    """
    col = F.col(col) if isinstance(col, str) else col
    if dtype not in ("string", "binary"):
        col = col.cast("string")
    if hash_name == "xxhash64":
        return F.xxhash64(col)

    from .hashing import hash_bytes  # late import: keep module import light

    @pandas_udf("long")
    def _hash_udf(s: pd.Series) -> pd.Series:
        keys = s.tolist() if dtype == "binary" else s.fillna("").tolist()
        hv = hash_bytes(keys, hash_name)
        return pd.Series(hv.view(np.int64))

    return _hash_udf(col)


def _dtype_of(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.typeName()


def with_hash(df: DataFrame, col: str, hash_name: str = DEFAULT_HASH,
              out: str = HASH_COL) -> DataFrame:
    return df.withColumn(out, hash_column(col, hash_name, _dtype_of(df, col)))


def _keys_nonnull(df: DataFrame, col: str) -> DataFrame:
    """Build inputs drop NULL keys (see module NULL policy)."""
    return df.select(col).where(F.col(col).isNotNull())


# ---------------------------------------------------------------------------
# single merged filter
# ---------------------------------------------------------------------------

def _merge_hash_blobs(rows, counter_bits: int):
    """Merge partial (sorted-unique hashes, counts) blobs into one
    sorted-unique pair — the decoded form of the associative slot-level
    merge (QF.merge decodes to exactly this and rebuilds)."""
    hs = [np.frombuffer(r[0], dtype="<u8") for r in rows]
    if len(hs) == 1:
        # single partial: already sorted-unique — skip the re-sort
        hv = hs[0]
        if counter_bits > 0:
            return hv, np.frombuffer(rows[0][1], dtype="<u8")
        return hv, None
    hv = np.concatenate(hs) if hs else np.empty(0, dtype=np.uint64)
    if counter_bits > 0:
        cs = [np.frombuffer(r[1], dtype="<u8") for r in rows]
        cnt = np.concatenate(cs)
        uhv, inverse = np.unique(hv, return_inverse=True)
        agg = np.zeros(len(uhv), dtype=np.uint64)
        np.add.at(agg, inverse, cnt)
        return uhv, agg
    return np.unique(hv), None


def build_qf(
    df: DataFrame,
    col: str,
    config: QFConfig | None = None,
    tree_fanout: int = 64,
    driver_merge_limit: int = 64,
) -> QF:
    """Build one merged CQF over ``df[col]``.

    Plan shape: scan -> (column-pruned) select -> JVM hash -> mapInPandas
    local pre-aggregation (one compact sorted (hash,count) partial per
    partition — the decoded form of a partial filter) -> Arrow-batched
    collect of the partial blobs -> driver merge + vectorized canonical
    build. Above ``driver_merge_limit`` partials, executor-side tree
    levels first reduce the partial count to the limit, so driver fan-in
    stays bounded at any input partition count.

    (Measured: Arrow collect moves the blobs ~5x faster than row
    collect, and one driver np.unique over pre-sorted-unique partials is
    cheaper than an extra executor tree level below ~64 partials — the
    tree is for fan-in control, not speed, at this size.)

    No shuffle of row data; the only exchange moves partial-aggregate
    blobs (~12 bytes per distinct key). Duplicate-key skew is absorbed by
    the partition-local aggregation (map-side combine), so a key repeated
    a billion times costs one pair per partition it appears in.

    DRIVER-RAM BOUND: the merged build materializes up to
    ``driver_merge_limit`` partial blobs on the driver at once, each up
    to ~12 bytes per distinct key in its partition slice — so peak
    driver memory is ~12 bytes x total distinct keys (the collected
    blobs plus the np.unique merge buffer), independent of
    ``driver_merge_limit``. That makes this entry point right for
    filters whose DISTINCT-KEY count fits driver memory (billions of
    keys = tens of GB: no). Past that, use ``build_sharded_qf`` — the
    scale path — which routes each hash to its shard on executors and
    never assembles the whole key set anywhere (the driver sees only
    per-shard metadata rows); its lookup side is the same
    ``ShardedQF`` API. See ARCHITECTURE.md "Sizing the build path".
    """
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    keys = _keys_nonnull(df, col)
    hashed = with_hash(keys, col, config.hash_name).select(HASH_COL)

    # SMALL-INPUT FAST PATH: when an action-free estimate bounds the
    # input under SMALL_BUILD_COLLECT_ROWS, collect the JVM-hashed
    # column directly via Arrow (ONE codegen-only job — no Python
    # worker stage, no partial blobs) and build driver-side. The
    # canonical layout is a pure function of the hash multiset, so the
    # result is byte-identical to the partial-merge path. The estimate
    # errs only upward (pre-filter footer counts; expanding plans are
    # excluded), so a large input can never sneak into the collect.
    if _small_enough_to_collect(hashed):
        a = hashed.toArrow().column(HASH_COL).to_numpy(
            zero_copy_only=False)
        hv = np.asarray(a, dtype=np.int64).view(np.uint64)
        if not hv.flags.writeable:
            hv = hv.copy()
        hv.sort()
        return QF.from_hashes(hv, None, config)
    return _build_from_partials(hashed, config, tree_fanout,
                                driver_merge_limit)


def _small_enough_to_collect(hashed: DataFrame) -> bool:
    """True when an action-free row estimate bounds ``hashed`` at
    ``SMALL_BUILD_COLLECT_ROWS``; an unknown estimate is not small."""
    est = sources.approx_row_count(hashed, fallback_count=False)
    return est is not None and est <= SMALL_BUILD_COLLECT_ROWS


def _build_from_partials(hashed: DataFrame, config: QFConfig,
                         tree_fanout: int = 64, driver_merge_limit: int = 64,
                         count_col: str | None = None) -> QF:
    """The bounded-driver build: per-partition partial aggregates
    (``_partial_hashes``), tree-merged executor-side down to
    ``driver_merge_limit`` blobs, merged and built on the driver."""
    partials_df = _partial_hashes(hashed, config, count_col)
    n_parts = hashed.rdd.getNumPartitions()
    if n_parts > driver_merge_limit:
        partials_df = tree_merge(partials_df, config, fanout=tree_fanout,
                                 n_partials=n_parts,
                                 stop_at=driver_merge_limit)
    tbl = partials_df.select("hashes", "counts").toArrow()
    rows = list(zip(tbl.column("hashes").to_pylist(),
                    tbl.column("counts").to_pylist()))
    if not rows:
        return QF(config)
    hv, counts = _merge_hash_blobs(rows, config.counter_bits)
    return QF.from_hashes(hv, counts, config, assume_unique=True)


def build_qf_from_counts(
    df: DataFrame,
    col: str,
    count_col: str,
    config: QFConfig | None = None,
) -> QF:
    """Build one merged CQF from a PRE-AGGREGATED ``(key, count)``
    DataFrame — the fast shape when the caller already has a
    ``groupBy(key).count()`` in hand (e.g. it also needs the distinct
    keys for probing): hashing stays JVM-side and, when the input has
    at most ``SMALL_BUILD_COLLECT_ROWS`` rows, one Arrow collect moves
    ~16 B per distinct key, with no Python worker stage. An action-free
    estimate decides that; when there is none (a persisted ``groupBy``
    has none), the collect is bounded at one row past the threshold and
    kept if it fits. Above the bound it builds through ``build_qf``'s
    partial path, which sums the count column per partition.
    Byte-identical to ``build_qf`` over the un-aggregated
    multiset (counts for hash-colliding keys sum, exactly as the
    multiset path aggregates them). Same driver-RAM contract as
    ``build_qf``: the distinct keys must fit driver memory."""
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    keys = df.select(col, count_col).where(F.col(col).isNotNull())
    hashed = with_hash(keys, col, config.hash_name).select(
        HASH_COL, F.col(count_col).cast("long").alias("_qf_n"))
    tbl = None
    est = sources.approx_row_count(hashed, fallback_count=False)
    if est is None:
        tbl = hashed.limit(SMALL_BUILD_COLLECT_ROWS + 1).toArrow()
        if tbl.num_rows > SMALL_BUILD_COLLECT_ROWS:
            tbl = None
    elif est <= SMALL_BUILD_COLLECT_ROWS:
        tbl = hashed.toArrow()
    if tbl is None:
        return _build_from_partials(hashed, config, count_col="_qf_n")
    hv = np.asarray(
        tbl.column(HASH_COL).to_numpy(zero_copy_only=False),
        dtype=np.int64).view(np.uint64)
    counts = np.asarray(
        tbl.column("_qf_n").to_numpy(zero_copy_only=False),
        dtype=np.int64).view(np.uint64)
    return QF.from_hashes(hv, counts, config)


def _partial_hashes(hashed: DataFrame, config: QFConfig,
                    count_col: str | None = None) -> DataFrame:
    """mapInPandas stage: per input partition, aggregate hash counts
    locally (numpy sort-unique — the map-side combine) and emit one
    compact partial-aggregate row. With ``count_col``, each row counts
    that many occurrences instead of one."""
    with_counts = config.counter_bits > 0

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [b for b in batches if len(b)]
        if not batches:
            return
        hv = np.concatenate([_u64(b[HASH_COL]) for b in batches])
        if with_counts and count_col is not None:
            n = np.concatenate([_u64(b[count_col]) for b in batches])
            order = np.argsort(hv)
            hv = hv[order]
            first = np.flatnonzero(np.r_[True, hv[1:] != hv[:-1]])
            uniq = hv[first]
            cbytes = np.add.reduceat(n[order], first).astype(
                "<u8").tobytes()
        elif with_counts:
            uniq, counts = np.unique(hv, return_counts=True)
            cbytes = counts.astype("<u8").tobytes()
        else:
            uniq = np.unique(hv)
            cbytes = b""
        yield pd.DataFrame(
            {
                "part_id": [0],
                "n": [len(uniq)],
                "hashes": [uniq.astype("<u8").tobytes()],
                "counts": [cbytes],
            }
        )

    out = hashed.mapInPandas(
        _build, schema="part_id long, n long, hashes binary, counts binary"
    )
    # give partials distinct ids for the tree merge grouping
    return out.withColumn("part_id", F.spark_partition_id().cast("long"))


def tree_merge(partials_df: DataFrame, config: QFConfig, fanout: int = 64,
               n_partials: int | None = None, stop_at: int = 1) -> DataFrame:
    """Distributed tree merge of partial aggregates: repeatedly group
    ``fanout`` partials and merge them executor-side until one row
    remains. Depth = ceil(log_fanout(n)); the driver never holds more
    than one partial (the role the reference's lossless double()
    plays in treeAggregate form, qf.go:283-301).

    ``n_partials`` (an upper bound on the partial count, e.g. the input
    partition count) keeps the loop action-free: without it a count()
    would force an extra full pass over the build lineage."""
    counter_bits = config.counter_bits

    def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        hv, counts = _merge_hash_blobs(
            list(zip(pdf["hashes"], pdf["counts"])), counter_bits
        )
        return pd.DataFrame(
            {
                "part_id": [int(pdf["part_id"].iloc[0])],
                "n": [len(hv)],
                "hashes": [hv.astype("<u8").tobytes()],
                "counts": [
                    counts.astype("<u8").tobytes() if counts is not None else b""
                ],
            }
        )

    df = partials_df
    n = n_partials if n_partials is not None else df.count()
    while n > max(stop_at, 1):
        df = (
            df.withColumn("part_id", (F.col("part_id") / fanout).cast("long"))
            .groupBy("part_id")
            .applyInPandas(
                _merge_group,
                schema="part_id long, n long, hashes binary, counts binary",
            )
        )
        n = (n + fanout - 1) // fanout
    return df


# ---------------------------------------------------------------------------
# sharded filter (scale path)
# ---------------------------------------------------------------------------

class ShardedQF:
    """A hash-range-partitioned collection of filters.

    Shard ``s`` owns hashes whose top ``shard_bits`` equal ``s`` and
    stores ``hash << shard_bits`` (lossless: the shard id carries the top
    bits; quotients stay uniformly distributed inside each shard's
    table). Lookups route each probe hash to its shard. At the 10^12
    design point a single filter cannot fit one machine; the sharded form
    is the primary artifact and the checkpoint table is its durable form.
    """

    def __init__(self, shard_bits: int, shards: dict[int, QF]):
        if not (0 <= shard_bits <= 32):
            raise ValueError("shard_bits must be in [0, 32]")
        self.shard_bits = shard_bits
        self.shards = shards
        cfgs = {(qf.config.hash_name, qf.config.counter_bits,
                 qf.config.bit_packed) for qf in shards.values()}
        if len(cfgs) > 1:
            raise ValueError("inconsistent shard configs")
        self.hash_name, self.counter_bits, self.bit_packed = (
            cfgs.pop() if cfgs else (DEFAULT_HASH, 0, False))

    def __reduce__(self):
        # the shards carry everything; the config fields are derived
        return ShardedQF, (self.shard_bits, self.shards)

    @property
    def entries(self) -> int:
        return sum(len(qf) for qf in self.shards.values())

    def __len__(self) -> int:
        return self.entries

    def lookup_hashes(self, hashes: np.ndarray):
        hashes = np.asarray(hashes, dtype=np.uint64)
        found = np.zeros(len(hashes), dtype=bool)
        counts = np.zeros(len(hashes), dtype=np.uint64)
        if not len(hashes):
            return found, counts
        sb = np.uint64(self.shard_bits)
        sid = (hashes >> (np.uint64(64) - sb)).astype(np.int64) if self.shard_bits else np.zeros(len(hashes), np.int64)
        local = hashes << sb
        for s in np.unique(sid):
            qf = self.shards.get(int(s))
            if qf is None:
                continue
            rows = np.flatnonzero(sid == s)
            f, c = qf.lookup_hashes(local[rows])
            found[rows] = f
            counts[rows] = c
        return found, counts

    def lookup_keys(self, keys):
        from .hashing import hash_bytes

        return self.lookup_hashes(hash_bytes(keys, self.hash_name))

    def __repr__(self) -> str:
        return (
            f"ShardedQF(shards={len(self.shards)}, shard_bits={self.shard_bits}, "
            f"entries={self.entries}, counter_bits={self.counter_bits}, "
            f"hash={self.hash_name!r})"
        )

    def to_qf(self) -> QF:
        """Collapse all shards into one monolithic QF (reconstructing the
        original hashes: shard id supplies the top bits). For export /
        interop at cardinalities that fit one machine."""
        cfg = QFConfig(counter_bits=self.counter_bits,
                       bit_packed=self.bit_packed, hash_name=self.hash_name)
        if not self.shards:
            return QF(cfg)
        sb = np.uint64(self.shard_bits)
        hvs, cnts = [], []
        for s in sorted(self.shards):
            qf = self.shards[s]
            hv, counts = qf.decode(sort=True)
            orig = (hv >> sb) | (np.uint64(s) << (np.uint64(64) - sb)) if self.shard_bits else hv
            hvs.append(orig)
            if counts is not None:
                cnts.append(counts)
        hv = np.concatenate(hvs)
        counts = np.concatenate(cnts) if cnts else None
        # shards own disjoint ascending hash ranges -> hv is sorted unique
        return QF.from_hashes(hv, counts, cfg, assume_unique=True)

    def contains(self, key) -> bool:
        f, _ = self.lookup_keys([key])
        return bool(f[0])

    def lookup(self, key):
        f, c = self.lookup_keys([key])
        return bool(f[0]), int(c[0])


# the shard-row schema, defined once (``_exchange_arrow`` derives its
# pyarrow twin from it)
_SHARD_SCHEMA = (
    "shard long, entries long, q_bits int, payload binary, "
    "payload_path string, hash_name string, counter_bits int, "
    "shard_bits int, n_rows long, build_ts double, code_version string, "
    "build_secs double"
)


def shard_payload_bytes(row) -> bytes:
    """The serialized filter for a shard-table row: inline ``payload``
    bytes, or the ``payload_path`` sidecar file written executor-side."""
    payload, path = row["payload"], row["payload_path"]
    if payload is not None and len(payload) > 0:
        return bytes(payload)
    if not path:
        raise ValueError("shard row has neither payload nor payload_path")
    with open(path, "rb") as f:
        return f.read()


def _finish_shard(qf: QF, shard: int, n_rows: int, cfg: QFConfig,
                  shard_bits: int, payload_dir: str | None,
                  t0: float | None = None) -> dict:
    """Common tail of every shard build: serialize (inline or sidecar)
    and produce the lineage row (``build_secs`` measured from ``t0``,
    the per-shard task metric the checkpoint table carries alongside
    entries/n_rows/build_ts/code_version)."""
    blob = qf_to_bytes(qf)
    payload, payload_path = blob, ""
    if payload_dir:
        digest = hashlib.sha1(blob).hexdigest()[:16]
        payload_path = os.path.join(
            payload_dir, f"shard_{shard:05d}_{digest}.qf")
        tmp = payload_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, payload_path)  # content-addressed + atomic
        payload = None
    return {
        "shard": shard,
        "entries": len(qf),
        "q_bits": qf.q_bits,
        "payload": payload,
        "payload_path": payload_path,
        "hash_name": cfg.hash_name,
        "counter_bits": cfg.counter_bits,
        "shard_bits": shard_bits,
        "n_rows": n_rows,
        "build_ts": time.time(),
        "code_version": _CODE_VERSION,
        "build_secs": round(time.time() - t0, 4) if t0 is not None else 0.0,
    }


def _build_shard(hv: np.ndarray, shard: int, cfg: QFConfig, shard_bits: int,
                 payload_dir: str | None, t0: float) -> dict:
    """Per-shard tail of the exchange: build from a shard's raw local
    hashes and finish the lineage row. The in-place sort feeds
    from_hashes' diff-based dedup — no index arrays, no np.unique
    inverse/bincount — so less memory traffic, which is what bounds
    2^sb concurrent shard builders (this stage is bandwidth-saturated)."""
    if not hv.flags.writeable:
        hv = hv.copy()
    hv.sort()
    return _finish_shard(QF.from_hashes(hv, None, cfg), shard, len(hv), cfg,
                         shard_bits, payload_dir, t0=t0)


def _routed(hashed: DataFrame, shard_bits: int, sub: int = 1) -> DataFrame:
    """(shard, local_hash) routing columns: shard = top bits, local =
    hash << shard_bits (lossless; quotients stay uniform per shard).
    With ``sub`` > 1 a third column, the hash modulo ``sub``, splits
    each shard into ``sub`` near-equal parts (the hash's low bits,
    which ``lh`` keeps, vary inside a shard)."""
    cols = [
        (F.shiftrightunsigned(F.col(HASH_COL), 64 - shard_bits) if shard_bits
         else F.lit(0)).cast("long").alias("shard"),
        (F.shiftleft(F.col(HASH_COL), shard_bits) if shard_bits
         else F.col(HASH_COL)).alias("lh"),
    ]
    if sub > 1:
        cols.append(F.pmod(F.col(HASH_COL), F.lit(sub)).alias("sub"))
    return hashed.select(*cols)


def build_sharded_qf(
    df: DataFrame,
    col: str,
    shard_bits: int = 4,
    config: QFConfig | None = None,
    checkpoint_path: str | None = None,
    resume: bool = True,
    payload_dir: str | None = None,
) -> DataFrame:
    """Build (or resume building) a sharded CQF; returns the shard-table
    DataFrame ``(shard, entries, q_bits, payload, payload_path,
    lineage...)``. See the module docstring for the exchange, its split
    rule and the sidecar-payload contract.

    The split takes one ``approx_row_count(..., fallback_count=False)``
    estimate of the hashed input: plan statistics, a ``Range`` or local
    relation leaf, or parquet footers. None of them runs a Spark job,
    and an input with no estimate is not split, so an uncheckpointed
    build starts no job before the returned DataFrame is used.

    With ``checkpoint_path`` set, the build runs as ONE Spark query that
    returns the shard lineage rows to the driver (filter bytes never
    do: without ``payload_dir`` the payloads are written as sidecars
    under ``<checkpoint_path>/_payloads/``, which table readers skip).
    For a path, the driver commits the rows as the next version of the
    checkpoint's log (``sources.commit_version``): ``resume=True`` skips
    the shards the newest version holds and commits its rows plus the
    new ones, ``resume=False`` commits the new rows alone, and the
    writer keeps the newest two versions and the sidecars they name. A
    catalog identifier (which needs ``payload_dir``) commits through
    ``writeTo``. Returns the committed table as a local DataFrame;
    ``read_shards`` reads a checkpoint back.
    """
    config = config or QFConfig(hash_name=DEFAULT_HASH, counter_bits=32)
    spark = df.sparkSession
    sb = shard_bits

    hashed = with_hash(_keys_nonnull(df, col), col,
                       config.hash_name).select(HASH_COL)
    est = sources.approx_row_count(hashed, fallback_count=False)
    sub = max(1, math.ceil((est or 0) / (1 << sb) / ARROW_MAX_ROWS_PER_SHARD))

    if not checkpoint_path:
        return _exchange_arrow(hashed, sb, sub, config, set(), payload_dir)
    payload_dir = payload_dir or _checkpoint_payload_dir(spark,
                                                         checkpoint_path)
    return _commit_shards(
        spark, checkpoint_path, resume, lambda done: _exchange_arrow(
            hashed, sb, sub, config, done, payload_dir))


def _checkpoint_payload_dir(spark, checkpoint_path: str) -> str:
    """``<checkpoint_path>/_payloads``: where a checkpointed build
    without ``payload_dir`` writes its sidecars, so that committing the
    lineage rows never moves filter bytes through the driver."""
    path = sources.table_dir(spark, checkpoint_path)
    if path is None:
        raise ValueError(
            "a catalog-table checkpoint has no directory for payload "
            "sidecars; pass payload_dir")
    payload_dir = os.path.join(path, sources.PAYLOADS_DIR)
    os.makedirs(payload_dir, exist_ok=True)
    return payload_dir


def _commit_shards(spark, location: str, resume: bool,
                   build) -> DataFrame:
    """Run ``build(done)``, the shard table without the shards ``done``,
    as one query, commit its lineage rows at ``location`` and return the
    committed table as a local DataFrame.

    A path commits the next version of its log, whose entry lists the
    shard ids. A resume skips the newest entry's shards and commits
    that version's rows (read on the driver with pyarrow: no Spark job)
    plus the new ones, joined by a schema-promoting Arrow concat; or
    nothing, when no shard was missing. A catalog identifier has no
    log: a resume reads its shard ids and appends through ``writeTo``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = sources.table_dir(spark, location)
    if path is None:  # a catalog identifier: the catalog's atomic commit
        done = ({int(r.shard) for r in read_shards(spark, location)
                 .select("shard").collect()}
                if resume and spark.catalog.tableExists(location) else set())
        rows = build(done).toArrow()
        sources.write_checkpoint(spark.createDataFrame(rows), location,
                                 mode="append" if done else "overwrite")
        return (read_shards(spark, location) if done
                else spark.createDataFrame(rows))
    head, base = sources._read_entry(path, pq.read_table)
    resume = resume and head is not None
    rows = build(set(head["shards"]) if resume else set()).toArrow()
    if resume:
        if not rows.num_rows:  # every shard was committed already
            return spark.createDataFrame(base)
        rows = pa.concat_tables([base, rows], promote_options="default")
    sources.commit_version(rows, path, (head["version"] if head else 0) + 1,
                           shards=rows.column("shard").to_pylist())
    sources.prune_log(path)
    return spark.createDataFrame(rows)


def read_shards(spark: SparkSession, location: str) -> DataFrame:
    """The shard table committed at ``location``: the newest version of
    a checkpoint path's log. A catalog identifier, or a directory a
    build wrote before the log (its parquet files at the top level), is
    read whole and keeps the newest ``build_ts`` row per shard, since
    those commits could leave a shard's row twice."""
    from pyspark.sql import Window

    path = sources.table_dir(spark, location)
    if path is not None:
        entry, df = sources._read_entry(path, spark.read.parquet)
        if entry is not None:
            return df
        # top-level files only: an unlogged version is not a table
        location = os.path.join(location, "*.parquet")
    w = Window.partitionBy("shard").orderBy(
        F.col("build_ts").desc(), F.col("entries").desc())
    return (sources.read_table(spark, location)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


_GEOMETRY = ("shard_bits", "hash_name", "counter_bits")


def _shard_summary(shards_df: DataFrame) -> DataFrame:
    """One ``(shard_bits, hash_name, counter_bits, rows, shards)`` row
    per geometry of a shard table, for ``_check_shard_rows``."""
    return shards_df.groupBy(*_GEOMETRY).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("shard").alias("shards"))


def _check_shard_rows(summary) -> None:
    """Raise ValueError unless the tables ``summary`` describes (a
    ``_shard_summary`` each) share one geometry and hold one row per
    shard: a misrouted probe, or a stale row, gives false negatives."""
    for i, fld in enumerate(_GEOMETRY):
        vals = {m[i] for m in summary}
        if len(vals) > 1:
            raise ValueError(f"shard rows disagree on {fld}: "
                             f"{sorted(map(str, vals))}")
    if any(m[3] != m[4] for m in summary):
        raise ValueError("a shard table holds a shard's row twice; read "
                         "checkpoints with read_shards")


def merge_shard_tables(
    spark: SparkSession,
    tables: list[DataFrame],
    payload_dir: str | None = None,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """Merge N checkpointed shard tables (e.g. two crawl snapshots'
    filters) into ONE shard table — without touching either original
    key stream. Counters ADD (multiset-union semantics, same as the
    kernel's ``QF.merge_many`` / the CLI's file ``merge``), and because
    the canonical layout is a pure function of the merged
    (hash -> count) map, the output payloads are byte-identical to a
    direct sharded build over the concatenated corpora (tested).

    Distributed shape: shard tables are O(shards) rows, so the only
    data movement is one groupBy("shard") shuffle of the payload blobs
    themselves (~total filter size); each shard's merge is one task
    decoding <= len(tables) filters — no raw keys anywhere. At
    10^12-row provenance this is the cheap path: re-building would
    re-scan both corpora; merging moves only the filters. Sidecar
    payloads (``payload_path``) are read executor-side, so the sidecar
    directory must be shared storage on a real cluster (it is on this
    single box).

    Inputs must agree on (shard_bits, hash_name, counter_bits) and hold
    one row per shard each (``read_shards`` reads a checkpoint so),
    else ValueError — validated on the tiny lineage projection before
    any payload moves; per-shard q_bits may differ (a snapshot that saw
    more keys in a shard simply merged at a larger q).

    With ``checkpoint_path`` set, the merge commits like a
    ``resume=False`` build: one query returns the lineage rows, the
    driver commits them as the checkpoint's next version, and the new
    rows come back as a local DataFrame. Without ``payload_dir`` the
    merged payloads go to sidecars under ``<checkpoint_path>/_payloads/``.
    """
    if not tables:
        raise ValueError("merge_shard_tables needs at least one table")
    if checkpoint_path:
        payload_dir = payload_dir or _checkpoint_payload_dir(spark,
                                                             checkpoint_path)
    allr, summary = tables[0], _shard_summary(tables[0])
    for t in tables[1:]:
        allr = allr.unionByName(t, allowMissingColumns=True)
        summary = summary.union(_shard_summary(t))
    _check_shard_rows(summary.collect())

    def _merge_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        t0 = time.time()
        qfs = [qf_from_bytes(shard_payload_bytes(row))
               for _, row in pdf.iterrows()]
        merged = QF.merge_many(qfs)
        out = _finish_shard(
            merged, int(pdf["shard"].iloc[0]), int(pdf["n_rows"].sum()),
            merged.config, int(pdf["shard_bits"].iloc[0]),
            payload_dir, t0)
        return pd.DataFrame([out])

    out = allr.groupBy("shard").applyInPandas(_merge_group, _SHARD_SCHEMA)
    if checkpoint_path:
        return _commit_shards(spark, checkpoint_path, False, lambda _: out)
    return out


# -- the exchange: fat collect_list rows through the Arrow channel ---------

def _exchange_arrow(hashed: DataFrame, sb: int, sub: int, config: QFConfig,
                    done: set, payload_dir: str | None) -> DataFrame:
    import pyarrow as pa

    routed = _routed(hashed, sb, sub)
    if done:
        routed = routed.filter(~F.col("shard").isin(list(done)))
    keys = ["shard", "sub"] if sub > 1 else ["shard"]
    fat = routed.groupBy(*keys).agg(F.collect_list("lh").alias("hv"))
    # the Arrow twin of the DDL, derived on the driver
    pa_schema = to_arrow_schema(StructType.fromDDL(_SHARD_SCHEMA))

    def _build_fat(tbl: "pa.Table") -> "pa.Table":
        if tbl.num_rows == 0:
            return pa_schema.empty_table()
        t0 = time.time()
        shard = tbl.column("shard")[0].as_py()
        # zero-copy: flatten the list column's value buffer per chunk
        arrs = [c.flatten().to_numpy(zero_copy_only=False)
                for c in tbl.column("hv").chunks]
        hv = (np.concatenate(arrs) if len(arrs) > 1 else arrs[0]).astype(
            np.int64, copy=False).view(np.uint64)
        row = _build_shard(hv, int(shard), config, sb, payload_dir, t0)
        return pa.Table.from_pylist([row], schema=pa_schema)

    return fat.groupBy("shard").applyInArrow(_build_fat, _SHARD_SCHEMA)


def load_sharded_qf(shards_df_or_rows) -> ShardedQF:
    """Materialize a ShardedQF from a shard table (DataFrame or collected
    rows; ``read_shards`` reads a checkpoint), which must hold one row
    per shard, all of one geometry, else ValueError. Probes walk each
    shard's filter in place (``QF.lookup_hashes``); no index is built."""
    rows = (
        shards_df_or_rows.collect()
        if isinstance(shards_df_or_rows, DataFrame)
        else list(shards_df_or_rows)
    )
    ids = [int(r.shard) for r in rows]
    geoms = {tuple(r[f] for f in _GEOMETRY) for r in rows}
    _check_shard_rows([(*g, len(ids), len(set(ids))) for g in geoms])
    shards = {s: qf_from_bytes(shard_payload_bytes(r))
              for s, r in zip(ids, rows)}
    return ShardedQF(int(rows[0].shard_bits) if rows else 0, shards)
