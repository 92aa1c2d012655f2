"""Property-based tests (hypothesis): for arbitrary hash multisets and
geometries, the kernel invariants must hold — bulk build == incremental
insert byte-identically, decode is lossless, merge is associative, serde
round-trips, probes never produce false negatives."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from qfspark import QF, QFConfig
from qfspark.serde import qf_from_bytes, qf_to_bytes

U64 = np.uint64

# small quotient space to force collisions, runs, and wraparound
hash_lists = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=300
)
q_bits_st = st.integers(min_value=4, max_value=10)
counter_bits_st = st.sampled_from([0, 4, 16])
packed_st = st.booleans()

_SETTINGS = settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _clustered(hashes, q_bits):
    """Map arbitrary ints into a tiny quotient space so runs/clusters and
    table wraparound actually occur."""
    hv = np.array(hashes, dtype=U64)
    if len(hv) == 0:
        return hv
    # squeeze quotients into [0, 2^q): keep low bits as remainder entropy
    q = (hv >> U64(58)) % U64(1 << q_bits)
    r_bits = 64 - q_bits
    r = hv & U64((1 << r_bits) - 1)
    return (q << U64(r_bits)) | r


@_SETTINGS
@given(hashes=hash_lists, q_bits=q_bits_st, counter_bits=counter_bits_st,
       packed=packed_st)
def test_bulk_equals_incremental(hashes, q_bits, counter_bits, packed):
    hv = _clustered(hashes, q_bits)
    uniq = np.unique(hv)
    need_q = max(q_bits, QFConfig(expected_entries=len(uniq)).derived_q_bits())
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=packed, q_bits=need_q)
    bulk = QF.from_hashes(hv, None, cfg)
    incr = QF(cfg)
    for h in hv.tolist():
        incr.insert_hash(int(h), 1, add=True)
    if incr.q_bits != bulk.q_bits:  # incremental may have doubled
        incr.resize(bulk.q_bits)
    assert np.array_equal(bulk.filter.words, incr.filter.words)
    if counter_bits:
        assert np.array_equal(bulk.storage.words, incr.storage.words)


@_SETTINGS
@given(hashes=hash_lists, q_bits=q_bits_st)
def test_decode_lossless_and_probes_complete(hashes, q_bits):
    hv = _clustered(hashes, q_bits)
    cfg = QFConfig(counter_bits=8, q_bits=max(
        q_bits, QFConfig(expected_entries=len(np.unique(hv))).derived_q_bits()
    ))
    qf = QF.from_hashes(hv, None, cfg)
    uniq, counts = np.unique(hv, return_counts=True)
    dh, dc = qf.decode(sort=True)
    assert np.array_equal(dh, uniq)
    assert np.array_equal(dc, np.minimum(counts, 255).astype(U64))
    qf.build_index()
    for mode in ("index", "walk"):
        f, c = qf.lookup_hashes(uniq, mode=mode)
        assert bool(f.all()) if len(uniq) else True
        assert np.array_equal(c, np.minimum(counts, 255).astype(U64))


@_SETTINGS
@given(hashes=hash_lists, q_bits=q_bits_st, split=st.integers(0, 300),
       counter_bits=counter_bits_st)
def test_merge_split_invariance(hashes, q_bits, split, counter_bits):
    hv = _clustered(hashes, q_bits)
    cfg = QFConfig(counter_bits=counter_bits)
    k = min(split, len(hv))
    a = QF.from_hashes(hv[:k], None, cfg)
    b = QF.from_hashes(hv[k:], None, cfg)
    merged = QF.merge(a, b)
    direct = QF.from_hashes(hv, None, cfg)
    if merged.q_bits != direct.q_bits:
        merged.resize(direct.q_bits)
    assert qf_to_bytes(merged) == qf_to_bytes(direct)


@_SETTINGS
@given(hashes=hash_lists, counter_bits=counter_bits_st, packed=packed_st)
def test_serde_roundtrip(hashes, counter_bits, packed):
    hv = np.array(hashes, dtype=U64)
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=packed)
    qf = QF.from_hashes(hv, None, cfg)
    assert qf_from_bytes(qf_to_bytes(qf)) == qf


@_SETTINGS
@given(hashes=hash_lists, q_bits=q_bits_st, counter_bits=counter_bits_st,
       packed=packed_st, split=st.integers(0, 300),
       add=st.booleans(), value=st.integers(0, 40))
def test_batched_insert_equals_sequential(hashes, q_bits, counter_bits,
                                          packed, split, add, value):
    """The batch insert (C kernel on unpacked filters, the scalar
    insert loop on bit-packed ones) must be byte- and flag-identical to
    the sequential per-element insert for arbitrary hash multisets in a
    tiny quotient space (forcing runs, clusters, table wraparound and
    duplicate keys) — over a pre-populated state, growth included."""
    hv = _clustered(hashes, q_bits)
    k = min(split, len(hv))
    state, batch = hv[:k], hv[k:]
    cfg = QFConfig(counter_bits=counter_bits, bit_packed=packed)
    qa = QF.from_hashes(state, None, cfg)
    qb = QF.from_hashes(state, None, cfg)
    fa = qa.insert_hashes(batch, value=value, add=add)
    fb = np.zeros(len(batch), dtype=bool)
    for i in np.argsort(batch, kind="stable").tolist():
        fb[i] = qb.insert_hash(int(batch[i]), value, add=add)
    assert qa.q_bits == qb.q_bits
    assert qf_to_bytes(qa) == qf_to_bytes(qb)
    assert np.array_equal(fa, fb)
