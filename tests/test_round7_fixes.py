"""Round-7 optimization equivalence tests: every fast path introduced
for speed must produce byte-identical filters to its fallback (the C
insert kernel against the scalar insert, the C bulk fill against the
numpy fill, ...; the CQF layout is canonical in the (hash -> count)
map, so byte equality is the strongest and simplest oracle)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from qfspark import QF, QFConfig
from qfspark.build import (
    SMALL_BUILD_COLLECT_ROWS,
    build_qf,
    build_qf_from_counts,
)
from qfspark.serde import qf_to_bytes
from qfspark.webpages import synthesize, synthesize_crawl

from .conftest import SF_DIR, no_ckernel


def _aligned_bytes(a: QF, b: QF) -> tuple[bytes, bytes]:
    if a.q_bits != b.q_bits:
        b.resize(a.q_bits)
    return qf_to_bytes(a), qf_to_bytes(b)


def test_small_collect_path_matches_partial_path(spark):
    """The small-input Arrow-collect fast path and the mapInPandas
    partial-merge path must build byte-identical filters."""
    wp = synthesize(spark, SF_DIR)
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    fast = build_qf(wp, "url", config=cfg)  # small input -> collect path

    import qfspark.build as B

    old = B.SMALL_BUILD_COLLECT_ROWS
    try:
        B.SMALL_BUILD_COLLECT_ROWS = 0  # force the partial path
        slow = build_qf(wp, "url", config=cfg)
    finally:
        B.SMALL_BUILD_COLLECT_ROWS = old
    fb, sb = _aligned_bytes(fast, slow)
    assert fb == sb


def test_build_from_counts_matches_multiset_build(spark):
    """build_qf_from_counts over groupBy(key).count() == build_qf over
    the raw key multiset, byte-identical (duplicated crawl input so the
    counters are non-trivial)."""
    crawl = synthesize_crawl(spark, SF_DIR)
    cfg = QFConfig(counter_bits=16, hash_name="xxhash64")
    direct = build_qf(crawl, "url", config=cfg)
    agg = crawl.groupBy("url").agg(F.count(F.lit(1)).alias("n"))
    from_counts = build_qf_from_counts(agg, "url", "n", config=cfg)
    db, cb = _aligned_bytes(direct, from_counts)
    assert db == cb


@pytest.mark.parametrize("counter_bits", [0, 16])
def test_build_from_counts_partial_path_matches_collect(spark, monkeypatch,
                                                        tmp_path,
                                                        counter_bits):
    """Above SMALL_BUILD_COLLECT_ROWS build_qf_from_counts builds through
    the partial path, summing the count column per partition; the filter
    is byte-identical to the collect path's."""
    import qfspark.build as B

    calls = []
    partial = B._partial_hashes

    def counting_partial(*args, **kwargs):
        calls.append(args)
        return partial(*args, **kwargs)

    monkeypatch.setattr(B, "_partial_hashes", counting_partial)
    # parquet-backed counts: footers give the action-free estimate
    crawl = synthesize_crawl(spark, SF_DIR)
    crawl.groupBy("url").agg(F.count(F.lit(1)).alias("n")) \
        .write.parquet(str(tmp_path / "counts"))
    agg = spark.read.parquet(str(tmp_path / "counts"))
    cfg = QFConfig(counter_bits=counter_bits, hash_name="xxhash64")
    fast = build_qf_from_counts(agg, "url", "n", config=cfg)
    assert not calls  # small input: the collect path
    monkeypatch.setattr(B, "SMALL_BUILD_COLLECT_ROWS", 0)
    slow = build_qf_from_counts(agg, "url", "n", config=cfg)
    assert calls
    fb, sb = _aligned_bytes(fast, slow)
    assert fb == sb


@pytest.mark.parametrize("counter_bits", [0, 16])
def test_build_from_counts_unknown_estimate_bounded_collect(spark,
                                                            monkeypatch,
                                                            counter_bits):
    """With no row estimate (as for a persisted groupBy),
    build_qf_from_counts collects at most SMALL_BUILD_COLLECT_ROWS + 1
    rows: it builds from them when they fit and takes the partial path
    when they do not. Both sides of the threshold are byte-identical to
    build_qf over the raw multiset."""
    import qfspark.build as B
    import qfspark.sources as S

    crawl = synthesize_crawl(spark, SF_DIR)
    cfg = QFConfig(counter_bits=counter_bits, hash_name="xxhash64")
    direct = build_qf(crawl, "url", config=cfg)
    agg = crawl.groupBy("url").agg(F.count(F.lit(1)).alias("n"))
    n_rows = agg.count()

    calls = []
    partial = B._partial_hashes
    monkeypatch.setattr(B, "_partial_hashes",
                        lambda *a, **k: calls.append(1) or partial(*a, **k))
    monkeypatch.setattr(S, "approx_row_count", lambda *a, **k: None)
    for threshold, via_partials in ((n_rows, False), (n_rows - 1, True)):
        calls.clear()
        monkeypatch.setattr(B, "SMALL_BUILD_COLLECT_ROWS", threshold)
        got = build_qf_from_counts(agg, "url", "n", config=cfg)
        assert bool(calls) == via_partials, threshold
        db, gb = _aligned_bytes(direct, got)
        assert db == gb, threshold


def test_build_from_counts_drops_null_keys(spark):
    df = spark.createDataFrame(
        [("a", 2), (None, 5), ("b", 1)], "k string, n long")
    cfg = QFConfig(counter_bits=8, hash_name="xxhash64")
    qf = build_qf_from_counts(df, "k", "n", config=cfg)
    assert len(qf) == 2
    f, c = qf.lookup_keys(["a", "b", "z"])
    assert f.tolist() == [True, True, False]
    assert c.tolist() == [2, 1, 0]


def test_from_hashes_sorted_and_unsorted_agree():
    """The diff-based dedup path: sorted vs unsorted input, duplicate
    aggregation with and without explicit counts."""
    rng = np.random.RandomState(3)
    hv = rng.randint(0, 2 ** 62, 5000).astype(np.uint64)
    hv = np.concatenate([hv, hv[:1700]])  # duplicates
    cfg = QFConfig(counter_bits=16)
    a = QF.from_hashes(hv, None, cfg)
    b = QF.from_hashes(np.sort(hv), None, cfg)
    ab, bb = _aligned_bytes(a, b)
    assert ab == bb
    # explicit counts reduceat path vs per-occurrence expansion
    uniq = np.unique(hv[:64])
    counts = (rng.randint(1, 5, len(uniq))).astype(np.uint64)
    expanded = np.repeat(uniq, counts.astype(np.int64))
    c = QF.from_hashes(uniq, counts, cfg)
    d = QF.from_hashes(expanded, None, cfg)
    cb, db2 = _aligned_bytes(c, d)
    assert cb == db2


def test_small_build_threshold_is_sane():
    assert 0 < SMALL_BUILD_COLLECT_ROWS <= 50_000_000


def _scalar_fallback_qf(cfg, seqs, value, add):
    """Run insert_hashes with the compiled kernel disabled, i.e. on the
    scalar-insert fallback."""
    with no_ckernel():
        qf = QF(cfg)
        flags = [qf.insert_hashes(s, value=value, add=add) for s in seqs]
        return qf, flags


def test_ckernel_matches_scalar_fallback_byte_identical():
    """The compiled scalar-insert kernel (qfspark.ckernel) against the
    scalar-insert fallback: identical bytes, flags and entry counts
    across counter widths, add-mode, duplicates and growth. Skips the
    comparison trivially when no C compiler is available (the library
    contract is that ckernel is an accelerator only)."""
    from qfspark.ckernel import get_kernel

    if get_kernel() is None:  # pragma: no cover - toolchain-less box
        return
    rng = np.random.RandomState(11)

    def r64(n, pool=None):
        if pool is not None:
            return pool[rng.randint(0, len(pool), n)]
        return (rng.randint(0, 2 ** 63, n).astype(np.uint64)
                * np.uint64(2)
                + rng.randint(0, 2, n).astype(np.uint64))

    for cb in (0, 4, 32, 64):
        for trial in range(4):
            pool = r64(3000)
            seqs = [r64(250, pool if trial % 2 else None)
                    for _ in range(6)]
            add = bool(trial % 3)
            cfg = QFConfig(counter_bits=cb, q_bits=8)  # tiny: growth
            qa = QF(cfg)
            fa = [qa.insert_hashes(s, value=3, add=add) for s in seqs]
            qb, fb = _scalar_fallback_qf(
                QFConfig(counter_bits=cb, q_bits=8), seqs, 3, add)
            ab, bb = _aligned_bytes(qa, qb)
            assert ab == bb
            assert qa.entries == qb.entries
            for x, y in zip(fa, fb):
                assert (x == y).all()


def test_ckernel_disabled_env_var(caplog):
    """QFSPARK_NO_CKERNEL=1 pins the scalar insert (get_kernel -> None),
    without the load-failure warning."""
    import os

    import qfspark.ckernel as ck

    prev_tried, prev_lib = ck._tried, ck._lib
    os.environ["QFSPARK_NO_CKERNEL"] = "1"
    ck._tried = False
    try:
        with caplog.at_level("WARNING", logger="qfspark.ckernel"):
            assert ck.get_kernel() is None
        assert not caplog.records
    finally:
        del os.environ["QFSPARK_NO_CKERNEL"]
        ck._tried, ck._lib = prev_tried, prev_lib


def test_ckernel_bulk_fill_matches_numpy_fill():
    """The compiled single-pass fill against the numpy vectorized fill:
    identical bytes across counter widths, explicit/implicit counts,
    high loads and clusters wrapping the table end."""
    import os

    import qfspark.ckernel as ck

    if ck.get_kernel() is None:  # pragma: no cover - toolchain-less box
        return
    rng = np.random.RandomState(17)
    for cb in (0, 8, 64):
        for trial in range(8):
            q_bits = int(rng.choice([6, 8, 12]))
            size = 1 << q_bits
            n = int(rng.randint(1, int(size * 0.95)))
            hv = (rng.randint(0, 2 ** 63, n).astype(np.uint64)
                  * np.uint64(2))
            if trial % 3 == 0:  # cluster at the table end => wraparound
                hv |= np.uint64(0xFFF) << np.uint64(52)
            counts = (rng.randint(1, 1000, n).astype(np.uint64)
                      if (cb and trial % 2) else None)
            cfg = QFConfig(counter_bits=cb, q_bits=q_bits)
            qa = QF.from_hashes(hv, counts, cfg)
            prev_tried, prev_lib = ck._tried, ck._lib
            os.environ["QFSPARK_NO_CKERNEL"] = "1"
            ck._tried, ck._lib = True, None
            try:
                qb = QF.from_hashes(hv, counts, cfg)
            finally:
                del os.environ["QFSPARK_NO_CKERNEL"]
                ck._tried, ck._lib = prev_tried, prev_lib
            ab, bb = _aligned_bytes(qa, qb)
            assert ab == bb
            assert qa.entries == qb.entries
