"""Batched-insert tests (QF.insert_hashes).

``insert_hashes`` has two paths: the compiled C kernel and, when that
does not apply, a loop over the scalar ``_insert_hash_nogrow`` per
growth-safe chunk. Every test here runs both (the second with the
kernel disabled) and is differential against the per-element scalar
insert in ascending hash order — the final bytes must be identical
(canonical layout) and the 'already present' flags must match
element-for-element.
"""
from __future__ import annotations

import contextlib

import numpy as np
import pytest

from qfspark.kernel import QF
from qfspark.sizing import QFConfig

from .conftest import no_ckernel


def _rand64(rng, n):
    return (rng.randint(0, 2 ** 63, n).astype(np.uint64) * np.uint64(2)
            + rng.randint(0, 2, n).astype(np.uint64))


def _differential(state, batch, cfg, value=1, add=False):
    counts = (np.ones(len(state), dtype=np.uint64)
              if cfg.counter_bits else None)
    qb = QF.from_hashes(state, counts, cfg)
    fb = np.zeros(len(batch), dtype=bool)
    for i in np.argsort(batch, kind="stable").tolist():
        fb[i] = qb.insert_hash(int(batch[i]), value=value, add=add)
    for kernel in (contextlib.nullcontext, no_ckernel):
        with kernel():
            qa = QF.from_hashes(state, counts, cfg)
            fa = qa.insert_hashes(batch, value=value, add=add)
        assert qa.to_bytes() == qb.to_bytes()
        assert np.array_equal(fa, fb)
        assert qa.q_bits == qb.q_bits


@pytest.mark.parametrize("cb,bp", [(0, True), (8, True), (8, False),
                                   (32, True)])
def test_insert_hashes_block_ripple_differential(cb, bp):
    rng = np.random.RandomState(5)
    for n_state, batch_n in [(0, 200), (500, 200), (40000, 1000)]:
        state = (np.unique(_rand64(rng, n_state)) if n_state
                 else np.zeros(0, dtype=np.uint64))
        batch = _rand64(rng, batch_n)
        if n_state and batch_n >= 4:
            # existing keys + internal duplicates exercise the
            # duplicate-counter paths
            batch[:batch_n // 4] = rng.choice(state, batch_n // 4)
            batch[batch_n // 4:batch_n // 2] = rng.choice(
                batch[batch_n // 2:], batch_n // 4)
        _differential(state, batch,
                      QFConfig(counter_bits=cb, bit_packed=bp),
                      value=3, add=bool(cb))


def test_insert_hashes_growth_parity():
    """Batch large enough to force multiple doublings: final q_bits
    and bytes must match the sequential path (doubling decisions are
    order-independent — the entry count is a multiset property)."""
    rng = np.random.RandomState(6)
    _differential(np.zeros(0, dtype=np.uint64), _rand64(rng, 5000),
                  QFConfig(counter_bits=16, expected_entries=32),
                  value=3)


def test_insert_hashes_wraparound_windows():
    """Quotients at the table edges: runs and ripples wrap around the
    table end; bytes still identical."""
    rng = np.random.RandomState(8)
    cfg = QFConfig(counter_bits=8, expected_entries=4096)
    probe = QF.from_hashes(np.zeros(0, dtype=np.uint64), None, cfg)
    size, r_bits = probe.size, probe.r_bits
    qs = np.concatenate([np.arange(size - 40, size), np.arange(0, 40),
                         rng.randint(0, size, 400)]).astype(np.uint64)
    rems = rng.randint(0, 2 ** min(r_bits, 62),
                       len(qs)).astype(np.uint64)
    batch = (qs << np.uint64(r_bits)) | rems
    batch = np.concatenate([batch, batch[:30]])  # dups over the wrap
    _differential(np.zeros(0, dtype=np.uint64), batch, cfg,
                  value=2, add=True)


def test_insert_hashes_counter_saturation():
    rng = np.random.RandomState(9)
    batch = np.repeat(
        (rng.randint(0, 2 ** 62, 5).astype(np.uint64) * np.uint64(4)),
        8)
    _differential(np.zeros(0, dtype=np.uint64), batch,
                  QFConfig(counter_bits=2), value=1, add=True)


def test_insert_hashes_tiny_filter_all_scalar():
    """A table of a few slots, grown by one batch."""
    rng = np.random.RandomState(10)
    _differential(np.zeros(0, dtype=np.uint64), _rand64(rng, 20),
                  QFConfig(counter_bits=4, expected_entries=8), value=1)


def test_insert_hashes_dense_collisions():
    """Many batch elements landing in the same few quotients: long
    clusters, long ripples and many shifted runs."""
    rng = np.random.RandomState(11)
    cfg = QFConfig(counter_bits=8, expected_entries=4096)
    probe = QF.from_hashes(np.zeros(0, dtype=np.uint64), None, cfg)
    r_bits = probe.r_bits
    # 300 entries crammed into 20 adjacent quotients
    qs = rng.randint(100, 120, 300).astype(np.uint64)
    rems = rng.randint(0, 2 ** min(r_bits, 62), 300).astype(np.uint64)
    batch = (qs << np.uint64(r_bits)) | rems
    _differential(np.zeros(0, dtype=np.uint64), batch, cfg,
                  value=1, add=True)
