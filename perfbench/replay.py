"""Driver-side replays of the kernel and serde calls the Spark ops make
on executors, timed one call at a time from outside the library.

Each workload (and the stream that traced ``crawl_frontier`` runs
drive) replays only the calls its own ops make, at the sizes they make
them: a shard of the sharded build; the crawl frontier's filter and
probes; one stream state group with one micro-batch's share of rows and
new keys. Each figure is the median of a few repeats on seeded random
hashes.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

SHARD_KEYS = 125_000        # distinct keys per shard of shard_build
FILTER_KEYS = 600_000       # distinct keys of a crawl_frontier filter
PROBES = 3_000_000          # rows of the crawl frontier
STATE_KEYS = 1_700          # keys in one stream_dedup state group
GROUP_ROWS = 312            # rows per group per micro-batch (walk probe)
GROUP_NEW = 31              # new keys per group per micro-batch (insert)
REPEATS = 7
INNER = 50                  # calls per sample for the per-group sizes


def _median_s(fn, inner: int = 1) -> float:
    """Median over ``REPEATS`` samples of the wall time of one call of
    ``fn``; a sample times ``inner`` calls in a row, so that calls of a
    fraction of a millisecond are not lost in timer noise."""
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        for _ in range(inner):
            fn()
        times.append((time.perf_counter() - t) / inner)
    return statistics.median(times)


def _hashes(rng, n: int) -> np.ndarray:
    return rng.integers(0, 2**64, size=n, dtype=np.uint64)


def _config(counter_bits: int):
    from qfspark import QFConfig

    return QFConfig(hash_name="xxhash64", counter_bits=counter_bits)


def shard_build(seed: int) -> dict:
    """``QF.from_hashes`` at the size of one shard: sorted distinct hashes
    as the shard builder passes them, and unsorted hashes with counts."""
    from qfspark import QF

    rng = np.random.default_rng(seed)
    counted = _config(32)
    shard = np.unique(_hashes(rng, SHARD_KEYS))
    unsorted = rng.permutation(shard)
    counts = np.ones(len(shard), dtype=np.uint64)
    return {
        "kernel.from_hashes_sorted_ns_per_key": _median_s(
            lambda: QF.from_hashes(shard.copy(), None, counted))
        / len(shard) * 1e9,
        "kernel.from_hashes_unsorted_ns_per_key": _median_s(
            lambda: QF.from_hashes(unsorted.copy(), counts, counted))
        / len(shard) * 1e9,
    }


def crawl_frontier(seed: int) -> dict:
    """What a lookup worker does with the broadcast filter: deserialize,
    decode, build the index and probe; and the serde round trip."""
    from qfspark import QF
    from qfspark.serde import qf_from_bytes, qf_to_bytes

    rng = np.random.default_rng(seed)
    keys = np.sort(_hashes(rng, FILTER_KEYS))
    qf = QF.from_hashes(keys, None, _config(32))
    probes = np.concatenate([rng.choice(keys, PROBES // 2),
                             _hashes(rng, PROBES - PROBES // 2)])
    out = {"kernel.decode_ns_per_key": _median_s(
        lambda: qf.decode(sort=True)) / len(keys) * 1e9}
    blob = qf_to_bytes(qf)
    fresh = iter([qf_from_bytes(blob) for _ in range(REPEATS)])
    out["kernel.build_index_ns_per_key"] = _median_s(
        lambda: next(fresh).build_index()) / len(keys) * 1e9
    qf.build_index()
    out["kernel.probe_index_ns_per_key"] = _median_s(
        lambda: qf.lookup_hashes(probes, mode="index")) / len(probes) * 1e9
    gb = len(blob) / 1e9
    out["serde.to_bytes_gb_per_s"] = gb / _median_s(lambda: qf_to_bytes(qf))
    out["serde.from_bytes_gb_per_s"] = gb / _median_s(
        lambda: qf_from_bytes(blob))
    return out


def stream_dedup(seed: int) -> dict:
    """One state group's share of a timed micro-batch: the walk probe of
    its rows and ``insert_hashes`` of its new keys, the branch the timed
    batches take. ``merge_many`` of the same keys is the branch the
    library takes instead when a batch is large relative to the state."""
    from qfspark import QF
    from qfspark.serde import qf_from_bytes, qf_to_bytes

    rng = np.random.default_rng(seed)
    plain = _config(0)
    state = QF.from_hashes(np.sort(_hashes(rng, STATE_KEYS)), None, plain)
    rows = _hashes(rng, GROUP_ROWS)
    new = rows[:GROUP_NEW]
    state_blob = qf_to_bytes(state)
    copies = iter([qf_from_bytes(state_blob)
                   for _ in range(REPEATS * INNER)])
    extra = QF.from_hashes(np.sort(new), None, plain)
    return {
        "kernel.probe_walk_ns_per_key": _median_s(
            lambda: state.lookup_hashes(rows, mode="walk"), INNER)
        / GROUP_ROWS * 1e9,
        "kernel.insert_us_per_key": _median_s(
            lambda: next(copies).insert_hashes(new, value=1), INNER)
        / GROUP_NEW * 1e6,
        "kernel.merge_many_ns_per_key": _median_s(
            lambda: QF.merge_many([state, extra]), INNER)
        / (STATE_KEYS + GROUP_NEW) * 1e9,
    }


REPLAYS = {f.__name__: f for f in (shard_build, crawl_frontier, stream_dedup)}
