"""Kernel tests, mirroring the reference's test strategy (SURVEY.md §5):

* checkConsistency invariants (qf_test.go:20-56),
* TestBasic / TestDoubling (qf_test.go:334-366),
* TestExternalStorage exact values (qf_test.go:472-499),
* eachHashValue differential vs independently computed hashes
  (qf_test.go:443-470),
* plus qfspark-specific guarantees: bulk build is byte-identical to the
  incremental shifting insert, probe modes agree, FP rate is bounded.
"""

import random

import numpy as np
import pytest

from qfspark import QF, QFConfig
from qfspark.hashing import murmur64a

from .conftest import no_ckernel
from .corpus import TEST_STRINGS
from .reference_impls import murmur64a_scalar

U64 = np.uint64
_OCC, _CONT, _SHIFT, _META = 1, 2, 4, 7


def check_consistency(qf: QF) -> None:
    """Invariant checker re-derived from the reference's test-only
    checkConsistency (qf_test.go:20-56)."""
    assert qf.count_entries() == qf.entries, "entry count != occupancy scan"
    sv = qf.filter.gather(np.arange(qf.size, dtype=np.int64))
    used = (sv & U64(_META)) != 0
    occupied = (sv & U64(_OCC)) != 0
    cont = (sv & U64(_CONT)) != 0
    n_runs = int(np.count_nonzero(used & ~cont))
    assert n_runs == int(np.count_nonzero(occupied)), (
        "number of runs != number of occupied quotients"
    )
    # an empty slot can never be marked continuation or shifted
    assert not np.any(~used & ((sv & U64(_CONT | _SHIFT)) != 0))
    # decode must reproduce exactly `entries` hashes and rebuild identically
    hv, counts = qf.decode(sort=True)
    assert len(hv) == qf.entries
    assert len(np.unique(hv)) == len(hv), "decoded hashes must be unique"
    rebuilt = QF.from_hashes(hv, counts, qf.config)
    if rebuilt.q_bits == qf.q_bits:
        assert np.array_equal(rebuilt.filter.words, qf.filter.words), (
            "decode->rebuild is not canonical"
        )


@pytest.mark.parametrize("bit_packed", [False, True])
def test_basic_insert_contains(bit_packed):
    """Insert-then-contains after every insert (reference TestBasic)."""
    cfg = QFConfig(bit_packed=bit_packed)
    qf = QF(cfg)
    inserted = set()
    for s in TEST_STRINGS:
        expect_update = s in inserted
        got_update = qf.insert(s)
        assert got_update == expect_update, s
        inserted.add(s)
        assert qf.contains(s)
    assert qf.entries == len(inserted)
    check_consistency(qf)
    for s in TEST_STRINGS:
        assert qf.contains(s)


def test_doubling_preserves_everything():
    """Unsized filter grows on demand (reference TestDoubling)."""
    qf = QF(QFConfig(counter_bits=8))
    seen = {}
    for i, s in enumerate(TEST_STRINGS):
        qf.insert_hash(int(murmur64a([s])[0]), 1, add=True)
        seen[s] = seen.get(s, 0) + 1
        if i % 37 == 0:
            check_consistency(qf)
    check_consistency(qf)
    for s, n in seen.items():
        found, cnt = qf.lookup(s)
        assert found and cnt == n, (s, n, cnt)


@pytest.mark.parametrize("bit_packed", [False, True])
@pytest.mark.parametrize("counter_bits", [0, 15])
def test_bulk_build_matches_incremental(bit_packed, counter_bits):
    """THE canonical-layout theorem test: the vectorized sorted bulk build
    must produce a byte-identical filter to the reference-style sequential
    shifting insert over the same hash multiset."""
    rng = random.Random(1234)
    n = 3000
    # random hashes with some clustering to force long runs + wraparound
    hashes = []
    for _ in range(n):
        if rng.random() < 0.3:
            # cluster hot quotients, including table-end wraparound zone
            q = rng.choice([0, 1, 2, 4093, 4094, 4095, 2048])
            hashes.append((q << 52) | rng.getrandbits(52))
        else:
            hashes.append(rng.getrandbits(64))
    hashes = np.array(hashes, dtype=U64)

    cfg = QFConfig(
        counter_bits=counter_bits,
        bit_packed=bit_packed,
        expected_entries=n,
        q_bits=12,
    )
    bulk = QF.from_hashes(hashes, None, cfg)

    incr = QF(cfg)
    for hv in hashes.tolist():
        if counter_bits:
            incr.insert_hash(int(hv), 1, add=True)
        else:
            incr.insert_hash(int(hv))

    assert bulk.q_bits == incr.q_bits
    assert bulk.entries == incr.entries
    assert np.array_equal(bulk.filter.words, incr.filter.words), (
        "bulk layout differs from incremental shifting insert"
    )
    if counter_bits:
        assert np.array_equal(bulk.storage.words, incr.storage.words)
    check_consistency(bulk)


def test_decode_differential_vs_independent_hashes():
    """Reference TestCheckHashes: the set of hashes enumerated from the
    filter must equal the murmur hashes computed independently."""
    qf = QF.from_keys(TEST_STRINGS, config=QFConfig(expected_entries=300))
    want = sorted({murmur64a_scalar(s.encode("utf-8")) for s in TEST_STRINGS})
    got = qf.hashes().tolist()
    assert got == want


def _assert_paths_agree(qf: QF, probes: np.ndarray, monkeypatch) -> tuple:
    """The default walk (compiled where it applies), the numpy walk with
    the kernel disabled and the decoded index give identical answers,
    and the compiled walk runs exactly when the vectors are unpacked and
    the kernel is loaded. Returns the agreed ``(found, counts)``."""
    import qfspark.ckernel as ck

    calls = []
    real = ck.probe_batch
    monkeypatch.setattr(ck, "probe_batch",
                        lambda *a: calls.append(1) or real(*a))
    walk = qf.lookup_hashes(probes)
    assert bool(calls) == (not qf.config.bit_packed
                           and ck.get_kernel() is not None)
    with no_ckernel():
        f, c = qf.lookup_hashes(probes)
    qf.build_index()
    for name, (fx, cx) in (("walk", walk),
                           ("index", qf.lookup_hashes(probes, mode="index"))):
        assert np.array_equal(fx, f), name
        assert np.array_equal(cx, c), name
    return f, c


@pytest.mark.parametrize("mode,counter_bits,bit_packed,n_keys", [
    pytest.param("index", 0, False, 5000, id="index"),
    pytest.param("walk", 0, False, 5000, id="walk"),
    pytest.param("walk", 8, False, 5000, id="walk-cb8"),
    pytest.param("walk", 32, False, 5000, id="walk-cb32"),
    pytest.param("walk", 8, True, 5000, id="walk-cb8-packed"),
    pytest.param("walk", 32, True, 5000, id="walk-cb32-packed"),
    pytest.param("walk", 8, False, 0, id="walk-empty"),
    pytest.param("walk", 8, True, 0, id="walk-empty-packed"),
])
def test_probe_modes_agree_and_no_false_negatives(mode, counter_bits,
                                                  bit_packed, n_keys,
                                                  monkeypatch):
    keys = ([f"key-{i}" for i in range(n_keys)] + ["key-0"] * 3
            if n_keys else [])
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=bit_packed,
                   expected_entries=5000)
    qf = QF.from_keys(keys, config=cfg)
    hv = murmur64a([f"key-{i}" for i in range(5000)])
    absent = murmur64a([f"absent-{i}" for i in range(5000)])
    probes = np.concatenate([hv, absent])
    f, c = _assert_paths_agree(qf, probes, monkeypatch)
    fm, cm = qf.lookup_hashes(probes, mode=mode)
    assert np.array_equal(fm, f) and np.array_equal(cm, c)
    assert bool(f[:n_keys].all()), "false negative!"
    # with q=13, r=51: expected FP ~ 5000 * 2^-51 ~ 0
    assert int(f[n_keys:].sum()) == 0
    if counter_bits and n_keys:
        assert int(c[0]) == 4 and bool((c[1:n_keys] == 1).all())


def test_probe_walk_equals_index_on_adversarial_layout(monkeypatch):
    """Huge clusters (a tiny quotient space), one of which wraps past
    the table end, at counter widths 0, 8, 12 and 32; and adjacent runs
    holding equal remainders, so a walk that leaves its own run answers
    wrongly. Every probe path answers alike, and exactly (the filter
    keeps the full 64-bit hash)."""
    rng = random.Random(5)
    hashes = []
    for _ in range(2500):
        q = rng.randrange(0, 64)  # tiny quotient space -> huge clusters
        hashes.append((q << 58) | rng.getrandbits(58))
    # a hot bucket at the last quotient: its run wraps to slot 0 on
    for _ in range(40):
        hashes.append((4095 << 52) | rng.getrandbits(52))
    hashes = np.array(hashes, dtype=U64)
    probes = np.concatenate([hashes, np.array(
        [rng.getrandbits(64) for _ in range(2000)], dtype=U64)])
    for counter_bits in (0, 8, 12, 32):
        qf = QF.from_hashes(hashes, None,
                            QFConfig(counter_bits=counter_bits, q_bits=12))
        assert qf.q_bits == 12
        assert int(qf.filter.words[0]) & _SHIFT, "no wraparound cluster"
        f, _ = _assert_paths_agree(qf, probes, monkeypatch)
        assert np.array_equal(f, np.isin(probes, hashes))

    # runs 200..259 alternate remainders {2, 4} and {6, 8}: probing
    # remainder 6 in a {2, 4} run must stop at the run's end, not find
    # the 6 of the next run
    runs = {q: (2, 4) if q % 2 == 0 else (6, 8) for q in range(200, 260)}
    hashes = np.array([(q << 52) | r for q, rs in runs.items() for r in rs],
                      dtype=U64)
    probes = np.array([(q << 52) | r for q in runs for r in range(10)],
                      dtype=U64)
    qf = QF.from_hashes(hashes, None, QFConfig(counter_bits=8, q_bits=12))
    f, _ = _assert_paths_agree(qf, probes, monkeypatch)
    assert np.array_equal(f, np.isin(probes, hashes))


def test_external_storage_exact_values():
    """Distinct keys with value i -> lookup returns exactly i
    (reference TestExternalStorage qf_test.go:472-499)."""
    cfg = QFConfig(counter_bits=20, expected_entries=1000)
    qf = QF(cfg)
    for i in range(1000):
        qf.insert_with_value(f"k{i}", i)
    for i in range(1000):
        found, v = qf.lookup(f"k{i}")
        assert found and v == i
    check_consistency(qf)


def test_duplicate_insert_overwrites_value():
    """Reference semantics: duplicate insert OVERWRITES the stored value
    (qf.go:365-372)."""
    qf = QF(QFConfig(counter_bits=16))
    assert qf.insert_with_value("dup", 7) is False
    assert qf.insert_with_value("dup", 9) is True
    assert qf.lookup("dup") == (True, 9)


def test_counter_saturation():
    qf = QF(QFConfig(counter_bits=4))
    hv = int(murmur64a(["sat"])[0])
    for _ in range(100):
        qf.insert_hash(hv, 1, add=True)
    found, cnt = qf.lookup("sat")
    assert found and cnt == 15  # saturates at 2^4 - 1


def test_exact_counts_on_corpus():
    from collections import Counter

    want = Counter(TEST_STRINGS)
    qf = QF.from_keys(TEST_STRINGS, config=QFConfig(counter_bits=16))
    for s, n in want.items():
        found, cnt = qf.lookup(s)
        assert found and cnt == n


def test_fp_rate_bound():
    """Statistical FP-rate test.

    With the default geometry the full 64-bit hash is represented (q
    implicit + r stored), so FP = 64-bit hash collision probability — not
    measurable statistically. To exercise the generalized bound (FP <=
    2^-r for r informative remainder bits, README.md:94-97) we emulate a
    28-bit fingerprint space: q=16 bucket bits + r=12 informative bits
    (lower 36 bits zeroed). Expected FP rate ~ load * 2^-12."""
    rng = random.Random(31337)
    n = 20000
    member = np.unique(
        np.array([rng.getrandbits(28) << 36 for _ in range(n)], dtype=U64)
    )
    qf = QF.from_hashes(member, None, QFConfig(q_bits=16))
    n_probe = 400000
    probe_fp = np.array(
        [rng.getrandbits(28) << 36 for _ in range(n_probe)], dtype=U64
    )
    truly_member = np.isin(probe_fp, member)
    f, _ = qf.lookup_hashes(probe_fp)
    # zero false negatives
    assert bool(f[truly_member].all())
    # false positive rate bounded by 2^-r (r = 12 informative bits),
    # expected ~ load * 2^-12 ~ 0.3 * 2.4e-4
    fp_rate = float(f[~truly_member].sum()) / float((~truly_member).sum())
    assert fp_rate <= 2**-12, fp_rate
    # and it should be in the right ballpark, not accidentally zero-ish
    expected = len(member) / 2**28
    assert fp_rate <= 4 * expected


def test_resize_lossless():
    qf = QF.from_keys(TEST_STRINGS, config=QFConfig(counter_bits=8, expected_entries=300))
    before = qf.decode(sort=True)
    qf.resize(qf.q_bits + 3)
    after = qf.decode(sort=True)
    assert np.array_equal(before[0], after[0])
    assert np.array_equal(before[1], after[1])
    for s in TEST_STRINGS:
        assert qf.contains(s)
    check_consistency(qf)


def test_len_and_loading():
    qf = QF.from_keys(["a", "b", "c", "a"], config=QFConfig(expected_entries=4))
    assert len(qf) == 3
    assert 0 < qf.loading() <= 0.65
