"""numpy counting-quotient-filter kernel.

Semantics re-derived from the reference quotient filter (go-qfext):

* a 64-bit hash splits into a q-bit quotient (implicit: the bucket index)
  and an r-bit remainder, ``r = 64 - q`` (reference: qf.go:508-513,159-177);
* each slot stores 3 metadata bits — ``is_occupied`` (bit 0),
  ``is_continuation`` (bit 1), ``is_shifted`` (bit 2) — plus the remainder
  shifted left by 3 (reference slot layout: qf.go:179-234);
* collision runs live in neighboring slots, remainder-sorted within a run
  (reference: qf.go:353-363), clusters never span an empty slot;
* an optional per-slot unsigned counter of configurable width (the
  reference's "external storage", config.go:16-18) makes it a *counting*
  quotient filter.

The reference builds this layout with a sequential ripple-shift insert
(qf.go:319-405) — inherently unvectorizable. We exploit the fact that the
canonical layout is a pure function of the *multiset of hashes*: sorting
the hashes sorts (quotient, remainder) pairs, and run-start positions
follow the prefix recurrence

    start_i = max(q_i, start_{i-1} + runlen_{i-1})
            = C_i + running_max(q_j - C_j)          (C = exclusive cumsum)

computed in O(n) with ``np.maximum.accumulate`` over a doubled sequence to
resolve circular wraparound. This gives a fully vectorized bulk build,
probe, decode, and an associative lossless merge. The scalar incremental
insert is kept as a slow path for API parity and as a differential oracle
in tests (bulk build and incremental insert must produce byte-identical
filters). The batched incremental insert (``insert_hashes``) runs the
same sequential algorithm either compiled (``qfspark.ckernel``) or as a
loop over that scalar insert when the C kernel does not apply.

Deviation from the reference (documented): the reference's insert has an
edge case where a *new* run's insertion point is compared against the
stale slot at the home bucket (qf.go:365-372 with ``sd`` read from ``dq``),
which can mistake a colliding remainder from a different run for a
duplicate (probability ~2^-r per insert). We implement the correct check
(duplicate detection only within the key's own run).
"""

from __future__ import annotations

import numpy as np

from .hashing import hash_bytes
from .sizing import MAX_LOADING_FACTOR, MIN_Q_BITS, QFConfig, q_bits_for
from .vector import PackedVector, UnpackedVector, make_vector

U64 = np.uint64

_OCC = 1  # is_occupied
_CONT = 2  # is_continuation
_SHIFT = 4  # is_shifted
_META = 7


def _sort_with_counts(hashes: np.ndarray, counts: np.ndarray | None):
    """Sort hashes (and their counts along). No stable sort needed:
    equal hashes are summed, so their relative order cannot change the
    built filter."""
    if counts is None:
        return np.sort(hashes), None
    order = np.argsort(hashes)
    return hashes[order], counts[order]


class QF:
    """A counting quotient filter over 64-bit hashes.

    Stores the full 64-bit hash (q bits implicit + r stored), so the
    false-positive rate equals the 64-bit hash collision probability for
    the default geometry, and <= 2^-r in general.
    """

    def __init__(self, config: QFConfig | None = None):
        self.config = config or QFConfig()
        self._init_geometry(self.config.derived_q_bits())
        self._alloc()
        self.entries = 0
        self._index = None  # cached (sorted hashes, counts) for fast probe

    # ------------------------------------------------------------------
    # geometry / allocation
    # ------------------------------------------------------------------
    def _init_geometry(self, q_bits: int) -> None:
        if not (MIN_Q_BITS <= q_bits <= 62):
            raise ValueError(f"q_bits must be in [{MIN_Q_BITS}, 62], got {q_bits}")
        self.q_bits = q_bits
        self.r_bits = 64 - q_bits
        self.r_mask = U64((1 << self.r_bits) - 1)
        self.size = 1 << q_bits
        self.max_entries = int(np.ceil(self.size * MAX_LOADING_FACTOR))

    def _alloc(self) -> None:
        slot_bits = 3 + self.r_bits
        self.filter = make_vector(slot_bits, self.size, self.config.bit_packed)
        self.storage = (
            make_vector(self.config.counter_bits, self.size, self.config.bit_packed)
            if self.config.counter_bits > 0
            else None
        )

    @property
    def counter_bits(self) -> int:
        return self.config.counter_bits

    @property
    def counter_mask(self) -> int:
        b = self.config.counter_bits
        return (1 << b) - 1 if b else 0

    def __len__(self) -> int:
        return self.entries

    # ------------------------------------------------------------------
    # lifecycle (reference Disk.Close, disk.go:99-104)
    # ------------------------------------------------------------------
    def close(self) -> None:
        """Release any memory maps backing this filter (filters opened by
        ``disk.open_readonly``/``open_any``) — without it a long-lived
        process churning many filter files accumulates mappings until GC
        happens to collect them. In-memory filters: a no-op. The filter
        is unusable afterwards (probes raise); idempotent."""
        for vec in (self.filter, self.storage):
            if vec is None:
                continue
            words = getattr(vec, "words", None)
            if isinstance(words, np.memmap):
                mm = words._mmap
                vec.words = None  # fail fast on use-after-close
                if mm is not None:
                    mm.close()
        self._index = None

    def __enter__(self) -> "QF":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()

    # ------------------------------------------------------------------
    # pickling (what annotate broadcasts)
    # ------------------------------------------------------------------
    def __getstate__(self):
        """What ``qf_to_bytes`` writes: geometry, entries and the word
        arrays, never derived state such as ``_index``. Under pickle
        protocol 5 numpy hands the words over as buffers, so a pickled
        filter loads as one aligned copy with no bytes payload beside
        it (a memmap's words go out as a plain view, not a copy)."""
        cfg = self.config
        return (cfg.hash_name, cfg.counter_bits, cfg.bit_packed,
                self.q_bits, self.entries, np.asarray(self.filter.words),
                None if self.storage is None
                else np.asarray(self.storage.words))

    def __setstate__(self, state) -> None:
        hash_name, counter_bits, bit_packed, q_bits, entries, fw, sw = state
        self.config = QFConfig(counter_bits=counter_bits,
                               bit_packed=bit_packed, hash_name=hash_name,
                               q_bits=q_bits)
        self._init_geometry(q_bits)
        cls = PackedVector if bit_packed else UnpackedVector
        self.filter = cls(3 + self.r_bits, self.size, fw)
        self.storage = None if sw is None else cls(counter_bits, self.size,
                                                   sw)
        self.entries = entries
        self._index = None

    # ------------------------------------------------------------------
    # bulk build (the primary, vectorized path)
    # ------------------------------------------------------------------
    @classmethod
    def from_hashes(
        cls,
        hashes: np.ndarray,
        counts: np.ndarray | None = None,
        config: QFConfig | None = None,
        assume_unique: bool = False,
    ) -> "QF":
        """Build the canonical filter from a (possibly duplicated) array of
        64-bit hashes in one vectorized pass.

        Duplicate hashes are aggregated: with ``counter_bits`` configured,
        their counts (default 1 each, or the given ``counts``) are summed
        and stored saturating at the counter width.

        ``assume_unique=True`` skips the dedup pass (the caller guarantees
        the hashes are already distinct, e.g. they come out of a
        ``groupBy(hash)``); they are sorted here if needed.
        """
        config = config or QFConfig()
        hashes = np.asarray(hashes, dtype=U64)
        if counts is not None:
            counts = np.asarray(counts, dtype=U64)
            if counts.shape != hashes.shape:
                raise ValueError("counts must align with hashes")
        if assume_unique:
            if len(hashes) > 1 and not bool((hashes[1:] > hashes[:-1]).all()):
                hashes, counts = _sort_with_counts(hashes, counts)
            hv = hashes
            agg = (
                (counts if counts is not None else np.ones(len(hv), dtype=U64))
                if config.counter_bits > 0
                else None
            )
        elif len(hashes) == 0:
            hv = hashes
            agg = (np.zeros(0, dtype=U64) if config.counter_bits > 0
                   else None)
        else:
            # sort once (in ascending order duplicates are adjacent),
            # then diff-based dedup: one boolean pass + slice beats
            # np.unique's return_inverse + bincount/add.at aggregation.
            # Pre-sorted input (the exchange paths sort in place before
            # calling) skips the argsort entirely.
            if not bool((hashes[1:] >= hashes[:-1]).all()):
                hashes, counts = _sort_with_counts(hashes, counts)
            n_all = len(hashes)
            is_first = np.empty(n_all, dtype=bool)
            is_first[0] = True
            np.not_equal(hashes[1:], hashes[:-1], out=is_first[1:])
            first_idx = np.flatnonzero(is_first)
            hv = hashes[first_idx]
            if config.counter_bits > 0:
                if counts is None:
                    agg = np.diff(np.append(first_idx, n_all)).astype(U64)
                else:
                    agg = np.add.reduceat(
                        counts, first_idx).astype(U64, copy=False)
            else:
                agg = None

        n = len(hv)
        need_q = max(config.derived_q_bits(), q_bits_for(n))
        cfg = QFConfig(
            counter_bits=config.counter_bits,
            bit_packed=config.bit_packed,
            expected_entries=max(config.expected_entries, n),
            hash_name=config.hash_name,
            q_bits=need_q,
        )
        qf = cls(cfg)
        qf._bulk_fill(hv, agg)
        return qf

    def _bulk_fill(self, hv: np.ndarray, counts: np.ndarray | None) -> None:
        """Fill an empty filter from *sorted unique* hashes (+counts)."""
        n = len(hv)
        if n == 0:
            return
        if n >= self.size:
            raise ValueError(f"{n} entries cannot fit a 2^{self.q_bits}-slot filter")
        # ROUND 7: single-pass compiled fill (qfspark.ckernel) when the
        # vectors are unpacked word arrays — same recurrence, zero numpy
        # dispatch, one sequential pass instead of ~15 full-array ones
        # (byte-identity pinned in tests/test_round7_fixes.py; the
        # numpy path below is the everywhere-fallback and the twin).
        if (isinstance(self.filter, UnpackedVector)
                and (self.storage is None
                     or isinstance(self.storage, UnpackedVector))):
            from . import ckernel

            clib = ckernel.get_kernel()
            if clib is not None:
                rc = ckernel.bulk_fill(
                    clib, self.filter.words,
                    self.storage.words
                    if self.storage is not None else None,
                    self.size, self.r_bits, int(self.r_mask),
                    self.counter_mask,
                    np.ascontiguousarray(hv, dtype=U64),
                    np.ascontiguousarray(counts, dtype=U64)
                    if counts is not None else None)
                if rc == 0:
                    self.entries = n
                    self._index = None
                    return
        r_bits = U64(self.r_bits)
        q = (hv >> r_bits).astype(np.int64)
        r = (hv & self.r_mask).astype(U64)

        # hv is sorted, so q is sorted: diff-based unique beats np.unique
        is_first = np.empty(n, dtype=bool)
        is_first[0] = True
        np.not_equal(q[1:], q[:-1], out=is_first[1:])
        first_idx = np.flatnonzero(is_first)
        uq = q[first_idx]
        run_len = np.diff(np.append(first_idx, n))
        m = len(uq)
        size = self.size

        # run-start recurrence: start_i = C_i + running_max(q_j - C_j)
        # (C = exclusive cumsum of run lengths). Computed linearly first;
        # the doubled-sequence pass for circular wraparound is only needed
        # when the last cluster actually overflows the table end.
        C = np.empty(m, dtype=np.int64)
        C[0] = 0
        np.cumsum(run_len[:-1], out=C[1:])
        starts = C + np.maximum.accumulate(uq - C)
        if starts[-1] + run_len[-1] > size:
            qd = np.concatenate([uq, uq + size])
            cd = np.concatenate([run_len, run_len])
            Cd = np.empty(2 * m, dtype=np.int64)
            Cd[0] = 0
            np.cumsum(cd[:-1], out=Cd[1:])
            starts = (Cd + np.maximum.accumulate(qd - Cd))[m:] - size

        # per-element slot positions (size is a power of two: mask == mod).
        # pos_i = (start_j + i - first_idx_j) mod size for element i of
        # run j: ONE repeat of the fused per-run offset (start - first)
        # instead of separate repeats of starts and first_idx.
        pos = np.arange(n, dtype=np.int64)
        pos += np.repeat(starts - first_idx, run_len)
        pos &= size - 1

        slot_vals = r << U64(3)
        # is_continuation = not the first element of its run (~is_first)
        slot_vals |= (~is_first).astype(U64) << U64(1)
        # is_shifted = landed off the home bucket
        slot_vals |= (pos != np.repeat(uq, run_len)).astype(U64) << U64(2)
        # element positions are DISTINCT (each entry owns a slot) and the
        # home slots are distinct among themselves: both scatters take
        # the fancy-|= unique path (values in-range by construction)
        self.filter.scatter_or_unique(pos, slot_vals)
        # occupied bit lives at the *home* slot of each occupied quotient,
        # which may or may not coincide with an element position -> OR in.
        self.filter.scatter_or_unique(uq, np.full(m, _OCC, dtype=U64))
        if self.storage is not None and counts is not None:
            cmask = U64(self.counter_mask)
            self.storage.scatter_or_unique(pos, np.minimum(counts, cmask))
        self.entries = n
        self._index = None

    @classmethod
    def from_keys(
        cls, keys, counts=None, config: QFConfig | None = None
    ) -> "QF":
        """Hash keys (str/bytes) with the configured hash and bulk-build."""
        config = config or QFConfig()
        return cls.from_hashes(hash_bytes(keys, config.hash_name), counts, config)

    # ------------------------------------------------------------------
    # decode (lossless enumeration; reference eachHashValue qf.go:84-110)
    # ------------------------------------------------------------------
    def decode(self, sort: bool = True):
        """Return ``(hashes, counts)`` for every stored entry.

        Lossless: ``(quotient << r_bits) | remainder`` reconstructs the full
        64-bit hash. Vectorized via rotation to a cluster boundary: runs in
        scan order correspond 1:1 (FIFO) to occupied slots in scan order.
        """
        if self.entries == 0:
            e = np.zeros(0, dtype=U64)
            return (e, e.copy() if self.storage is not None else None)
        all_ix = np.arange(self.size, dtype=np.int64)
        if isinstance(self.filter, UnpackedVector):
            sv = self.filter.words  # direct view; read-only use below
        else:
            sv = self.filter.gather(all_ix)
        used = (sv & U64(_META)) != 0
        empties = np.flatnonzero(~used)
        if empties.size == 0:
            raise RuntimeError("filter unexpectedly full; cannot decode")
        start = int(empties[0]) + 1
        order = np.concatenate([all_ix[start:], all_ix[:start]])
        sv_r = sv[order]
        used_r = used[order]
        # occupied quotients in rotated scan order map FIFO to runs in
        # rotated scan order (reference eachHashValue's queue, qf.go:94-109)
        occ_mask_r = (sv_r & U64(_OCC)) != 0
        occ_rot = order[occ_mask_r]
        run_start_mask = used_r & ((sv_r & U64(_CONT)) == 0)
        run_id = np.cumsum(run_start_mask) - 1
        u_positions = np.flatnonzero(used_r)
        quot = occ_rot[run_id[u_positions]].astype(U64)
        rem = sv_r[u_positions] >> U64(3)
        hv = (quot << U64(self.r_bits)) | rem
        counts = None
        if self.storage is not None:
            counts = self.storage.gather(order[u_positions])
        if sort:
            # stable (timsort) for speed, not for ties (stored hashes are
            # unique): scan order is at most two ascending runs (the
            # rotation), which timsort merges in linear time — ~10x
            # under the default quicksort at 600k keys
            perm = np.argsort(hv, kind="stable")
            hv = hv[perm]
            if counts is not None:
                counts = counts[perm]
        return hv, counts

    def hashes(self) -> np.ndarray:
        """Sorted array of all stored 64-bit hashes."""
        return self.decode(sort=True)[0]

    # ------------------------------------------------------------------
    # probe
    # ------------------------------------------------------------------
    def build_index(self) -> None:
        """Cache a decoded probe index: the sorted hash array plus
        per-quotient offsets, 8 bytes per entry + 8 bytes per bucket on
        top of the filter. No library path uses it; it stays for the
        benchmark replay's index figure, the only caller of
        ``mode='index'``."""
        hv, counts = self.decode(sort=True)
        q = (hv >> U64(self.r_bits)).astype(np.int64)
        bucket_counts = np.bincount(q, minlength=self.size)
        offsets = np.zeros(self.size + 1, dtype=np.int64)
        np.cumsum(bucket_counts, out=offsets[1:])
        self._index = (hv, counts, offsets)

    def lookup_hashes(self, hashes: np.ndarray, mode: str = "walk"):
        """Batch probe. Returns ``(found bool[n], counts uint64[n])``.

        mode='walk' (the default) walks the slots in place, holding no
        memory beyond the filter (reference lookupByHash/findStart,
        qf.go:422-500). It runs the compiled walk
        (``qfspark.ckernel.probe_batch``, tens of ns per key) when the
        filter and its storage are unpacked word arrays, read-only
        memmaps included, and the kernel is loaded. Otherwise it runs
        the numpy ``_probe_walk``, vectorized across the batch: the
        differential oracle, and the path for bit-packed filters, hosts
        without a C compiler and ``QFSPARK_NO_CKERNEL=1``, at about
        0.3-2 us per key.
        mode='index' probes the decoded index, which must be built first
        (the method above); only the benchmark replay asks for it.
        """
        if self.filter.words is None:
            raise ValueError("probe of a closed filter")
        hashes = np.asarray(hashes, dtype=U64)
        if mode == "walk":
            if (isinstance(self.filter, UnpackedVector)
                    and (self.storage is None
                         or isinstance(self.storage, UnpackedVector))):
                from . import ckernel

                clib = ckernel.get_kernel()
                if clib is not None:
                    return ckernel.probe_batch(
                        clib, self.filter.words,
                        self.storage.words
                        if self.storage is not None else None,
                        self.size, self.r_bits, int(self.r_mask), hashes)
            return self._probe_walk(hashes)
        if mode == "index":
            if self._index is None:
                raise ValueError("mode='index' needs the decoded index "
                                 "built first")
            hv, counts, offsets = self._index
            n = len(hashes)
            out_counts = np.zeros(n, dtype=U64)
            found = np.zeros(n, dtype=bool)
            if len(hv) == 0:
                return found, out_counts
            q = (hashes >> U64(self.r_bits)).astype(np.int64)
            start = offsets[q]
            end = offsets[q + 1]
            # scan each bucket's run (avg length = load factor; the
            # active set shrinks geometrically per iteration)
            pos = start
            active = np.flatnonzero(pos < end)
            while active.size:
                cand_ix = pos[active]
                hit = hv[cand_ix] == hashes[active]
                hit_rows = active[hit]
                found[hit_rows] = True
                if counts is not None and hit_rows.size:
                    out_counts[hit_rows] = counts[pos[hit_rows]]
                rest = active[~hit]
                pos[rest] += 1
                active = rest[pos[rest] < end[rest]]
            return found, out_counts
        raise ValueError(f"unknown probe mode {mode!r}")

    def _probe_walk(self, hashes: np.ndarray):
        """Vectorized cluster-walk probe (no decode, no extra memory).

        Each step advances *all* still-active probes one slot; iteration
        count is bounded by the longest cluster (small at load <= 0.65).
        """
        n = len(hashes)
        found = np.zeros(n, dtype=bool)
        out_counts = np.zeros(n, dtype=U64)
        if n == 0 or self.entries == 0:
            return found, out_counts
        size = self.size
        dq = (hashes >> U64(self.r_bits)).astype(np.int64)
        dr = (hashes & self.r_mask).astype(U64)

        sd0 = self.filter.gather(dq)
        active = (sd0 & U64(_OCC)) != 0  # unoccupied home bucket -> miss
        idx = np.flatnonzero(active)
        if idx.size == 0:
            return found, out_counts

        # --- find run start (reference findStart, qf.go:422-444) ---
        # left scan: count complete runs & pending runs until unshifted slot
        i = dq[idx].copy()
        runs = np.ones(idx.size, dtype=np.int64)
        complete = np.zeros(idx.size, dtype=np.int64)
        scanning = np.ones(idx.size, dtype=bool)
        while scanning.any():
            srows = np.flatnonzero(scanning)
            sd = self.filter.gather(i[srows])
            not_cont = (sd & U64(_CONT)) == 0
            complete[srows] += not_cont
            unshifted = (sd & U64(_SHIFT)) == 0
            occ = (sd & U64(_OCC)) != 0
            runs[srows] += (~unshifted & occ)
            cont_rows = srows[~unshifted]
            i[cont_rows] = (i[cont_rows] - 1) % size
            scanning[srows[unshifted]] = False
        # right scan: advance from dq until our run's start
        pos = dq[idx].copy()
        scanning = runs > complete
        while scanning.any():
            srows = np.flatnonzero(scanning)
            pos[srows] = (pos[srows] + 1) % size
            sd = self.filter.gather(pos[srows])
            complete[srows] += (sd & U64(_CONT)) == 0
            scanning[srows] = runs[srows] > complete[srows]

        # --- scan the remainder-sorted run (reference qf.go:482-498) ---
        want = dr[idx]
        slot = pos
        res_found = np.zeros(idx.size, dtype=bool)
        res_counts = np.zeros(idx.size, dtype=U64)
        scanning = np.ones(idx.size, dtype=bool)
        first = True
        while scanning.any():
            srows = np.flatnonzero(scanning)
            sd = self.filter.gather(slot[srows])
            if not first:
                is_cont = (sd & U64(_CONT)) != 0
                stop = ~is_cont
                scanning[srows[stop]] = False
                srows = srows[~stop]
                if srows.size == 0:
                    break
                sd = sd[~stop]
            first = False
            r_here = sd >> U64(3)
            hit = r_here == want[srows]
            hrows = srows[hit]
            res_found[hrows] = True
            if self.storage is not None and hrows.size:
                res_counts[hrows] = self.storage.gather(slot[hrows])
            scanning[hrows] = False
            over = srows[r_here > want[srows]]
            scanning[over] = False
            step = np.flatnonzero(scanning)
            slot[step] = (slot[step] + 1) % size
        found[idx] = res_found
        out_counts[idx] = res_counts
        return found, out_counts

    # -- key-level convenience -----------------------------------------
    def contains(self, key) -> bool:
        f, _ = self.lookup_hashes(hash_bytes([key], self.config.hash_name))
        return bool(f[0])

    def lookup(self, key):
        f, c = self.lookup_hashes(hash_bytes([key], self.config.hash_name))
        return bool(f[0]), int(c[0])

    def contains_keys(self, keys) -> np.ndarray:
        f, _ = self.lookup_hashes(hash_bytes(keys, self.config.hash_name))
        return f

    def lookup_keys(self, keys):
        return self.lookup_hashes(hash_bytes(keys, self.config.hash_name))

    # ------------------------------------------------------------------
    # incremental insert (slow path; differential oracle for bulk build)
    # ------------------------------------------------------------------
    def insert(self, key) -> bool:
        return self.insert_with_value(key, 0)

    def insert_with_value(self, key, value: int) -> bool:
        """Insert one key; returns True if it was already present. On a
        duplicate the stored value is *overwritten* (reference semantics,
        qf.go:365-372); use ``add=True`` on insert_hash for counting."""
        hv = int(hash_bytes([key], self.config.hash_name)[0])
        return self.insert_hash(hv, value)

    def insert_hash(self, hv: int, value: int = 0, add: bool = False) -> bool:
        if self.entries >= self.max_entries:
            self._double()
        self._index = None
        return self._insert_hash_nogrow(hv, value, add)

    def insert_hashes(self, hv: np.ndarray, value: int = 0,
                      add: bool = False) -> np.ndarray:
        """Batched incremental insert of raw hashes — the hot path of
        streaming state maintenance (streaming.stateful_streaming_dedup).
        Result bytes and return flags identical to calling
        ``insert_hash`` per element in ASCENDING hash order (growth
        included — the layout is CANONICAL in the entry multiset, so
        insertion order cannot change the bytes; differential-tested).

        Two paths, both inserting one key at a time with the
        sequential ripple shift of the reference (qf.go:319-405): the
        compiled C kernel (``qfspark.ckernel``) on unpacked, writable
        vectors with ``value >= 0``, and otherwise the scalar
        ``_insert_hash_nogrow`` loop, which is also the differential
        oracle. The scalar path costs far more per insert: on a 4-core
        host with a 1M-key state, ~4-8 us/insert (unpacked) and ~10-18
        us/insert (bit-packed) against ~0.15-0.3 us/insert for the C
        kernel (scripts/profile_stream_insert.py). It serves bit-packed or
        read-only vectors, hosts without a C compiler and
        ``QFSPARK_NO_CKERNEL=1``. A genuinely batch-scale rebuild is
        still ``from_hashes``/``merge_many``, which wins once the batch
        is a meaningful fraction of the state.

        Returns the 'was already present' booleans aligned to the
        input order."""
        hv = np.ascontiguousarray(np.asarray(hv).astype(np.uint64,
                                                        copy=False))
        self._index = None
        n = len(hv)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        # stable on purpose: for a hash repeated inside the batch, the
        # first occurrence in input order must be the one inserted (flag
        # False) — stateful_streaming_dedup's first-occurrence output
        # relies on it
        order = np.argsort(hv, kind="stable")
        sh = hv[order]
        # compiled scalar kernel (qfspark.ckernel) when the vectors are
        # unpacked word arrays — the exact same algorithm as the scalar
        # loop with no Python per key (byte-identity pinned in
        # tests/test_round7_fixes.py).
        # the C kernel writes through raw pointers: a read-only memmap
        # (disk.open_readonly) would SIGSEGV it, so such filters take the
        # scalar insert, whose first write raises ValueError instead
        clib = None
        if (isinstance(self.filter, UnpackedVector)
                and self.filter.words.flags.writeable
                and (self.storage is None
                     or (isinstance(self.storage, UnpackedVector)
                         and self.storage.words.flags.writeable))
                and value >= 0):
            from .ckernel import get_kernel

            clib = get_kernel()
        # growth-safe chunks: within a chunk the entry count cannot
        # reach max_entries, so the per-element doubling check hoists
        # to the chunk boundary (doubling decisions — and therefore
        # the final q_bits — match the sequential path exactly: the
        # entry count is order-independent)
        done = 0
        while done < n:
            if self.entries >= self.max_entries:
                self._double()
            room = self.max_entries - self.entries
            chunk = sh[done:done + room]
            if clib is not None:
                from . import ckernel

                flags, new = ckernel.insert_batch(
                    clib, self.filter.words,
                    self.storage.words
                    if self.storage is not None else None,
                    self.size, self.r_bits, int(self.r_mask),
                    self.counter_mask,
                    np.ascontiguousarray(chunk), value, add)
                self.entries += new
                out[order[done:done + len(chunk)]] = flags
            else:
                ins = self._insert_hash_nogrow
                out[order[done:done + len(chunk)]] = [
                    ins(h, value, add) for h in chunk.tolist()]
            done += len(chunk)
        return out

    def _read(self, slot: int) -> int:
        return self.filter.get(slot)

    def _write(self, slot: int, val: int) -> None:
        self.filter.set(slot, val)

    def _insert_hash_nogrow(self, hv: int, value: int, add: bool) -> bool:
        dq = hv >> self.r_bits
        dr = hv & int(self.r_mask)
        size = self.size
        cmask = self.counter_mask
        sd = self._read(dq)

        # case 1: home slot empty -> claim it
        if (sd & _META) == 0:
            self._write(dq, _OCC | (dr << 3))
            if self.storage is not None:
                self.storage.set(dq, min(value, cmask))
            self.entries += 1
            return False

        extending = bool(sd & _OCC)
        if not extending:
            self._write(dq, sd | _OCC)

        run_start = dq
        if sd & _SHIFT:
            run_start = self._find_start(dq)

        # find sorted position within the run
        slot = run_start
        cur = self._read(slot)
        if extending:
            while True:
                if (cur & _META) == 0 or (cur >> 3) >= dr:
                    break
                slot = (slot + 1) % size
                cur = self._read(slot)
                if not (cur & _CONT):
                    break
            if (cur & _META) != 0 and (cur >> 3) == dr and (
                slot == run_start or (cur & _CONT)
            ):
                # duplicate within our own run: overwrite (or add) count
                if self.storage is not None:
                    if add:
                        old = self.storage.get(slot)
                        self.storage.set(slot, min(old + value, cmask))
                    else:
                        self.storage.set(slot, min(value, cmask))
                return True

        # case 3: ripple-shift the new remainder into place
        self.entries += 1
        shifted_bit = slot != dq
        cont_bit = slot != run_start
        cur_r = dr
        cur_v = min(value, cmask)
        while True:
            old = self._read(slot)
            new = (
                (old & _OCC)
                | (_CONT if cont_bit else 0)
                | (_SHIFT if shifted_bit else 0)
                | (cur_r << 3)
            )
            self._write(slot, new)
            if self.storage is not None:
                cur_v = self.storage.swap(slot, cur_v)
            if (old & _META) == 0:
                break
            if (slot == run_start and extending) or (old & _CONT):
                cont_bit = True
            else:
                cont_bit = False
            cur_r = old >> 3
            slot = (slot + 1) % size
            shifted_bit = True
        return False

    def _find_start(self, dq: int) -> int:
        """Locate the start slot of the run for quotient ``dq``
        (reference findStart, qf.go:422-444)."""
        size = self.size
        runs, complete = 1, 0
        i = dq
        while True:
            sd = self._read(i)
            if not (sd & _CONT):
                complete += 1
            if not (sd & _SHIFT):
                break
            if sd & _OCC:
                runs += 1
            i = (i - 1) % size
        pos = dq
        while runs > complete:
            pos = (pos + 1) % size
            if not (self._read(pos) & _CONT):
                complete += 1
        return pos

    def _double(self) -> None:
        """Grow to 2^(q+1) slots, losslessly rehashing every entry
        (reference double, qf.go:283-301) — via decode + bulk rebuild."""
        self.resize(self.q_bits + 1)

    def resize(self, new_q_bits: int) -> None:
        hv, counts = self.decode(sort=True)
        self._init_geometry(new_q_bits)
        self.config = QFConfig(
            counter_bits=self.config.counter_bits,
            bit_packed=self.config.bit_packed,
            expected_entries=self.config.expected_entries,
            hash_name=self.config.hash_name,
            q_bits=new_q_bits,
        )
        self._alloc()
        self.entries = 0
        self._index = None
        self._bulk_fill(hv, counts)

    # ------------------------------------------------------------------
    # merge (lossless, associative, commutative)
    # ------------------------------------------------------------------
    @classmethod
    def merge(cls, a: "QF", b: "QF") -> "QF":
        return cls.merge_many([a, b])

    @classmethod
    def merge_many(cls, filters) -> "QF":
        """Merge any number of filters: multiset union of their hash
        streams with counters added (saturating). Associative and
        commutative because the canonical layout is a pure function of
        the merged (hash -> count) map — any merge tree over any
        partitioning yields byte-identical filters."""
        filters = list(filters)
        if not filters:
            raise ValueError("merge_many needs at least one filter")
        base = filters[0].config
        for f in filters[1:]:
            if f.config.hash_name != base.hash_name:
                raise ValueError("cannot merge filters with different hashes")
            if f.config.counter_bits != base.counter_bits:
                raise ValueError("cannot merge filters with different counter widths")
        parts = [f.decode(sort=False) for f in filters]
        hv = np.concatenate([p[0] for p in parts])
        if base.counter_bits > 0:
            counts = np.concatenate(
                [
                    p[1] if p[1] is not None else np.ones(len(p[0]), dtype=U64)
                    for p in parts
                ]
            )
        else:
            counts = None
        uhv, inverse = np.unique(hv, return_inverse=True)
        if counts is not None:
            agg = np.zeros(len(uhv), dtype=U64)
            np.add.at(agg, inverse, counts)
        else:
            agg = None
        q = max(max(f.q_bits for f in filters), q_bits_for(len(uhv)))
        cfg = QFConfig(
            counter_bits=base.counter_bits,
            bit_packed=base.bit_packed,
            expected_entries=len(uhv),
            hash_name=base.hash_name,
            q_bits=q,
        )
        out = cls(cfg)
        out._bulk_fill(uhv, agg)
        return out

    # ------------------------------------------------------------------
    # diagnostics
    # ------------------------------------------------------------------
    def count_entries(self) -> int:
        """Full-scan occupancy count (reference countEntries qf.go:248-255)."""
        sv = self.filter.gather(np.arange(self.size, dtype=np.int64))
        return int(np.count_nonzero((sv & U64(_META)) != 0))

    def loading(self) -> float:
        return self.entries / self.size

    def debug_dump(self, full: bool = False) -> str:
        """Textual slot dump (reference DebugDump qf.go:43-81)."""
        lines = [
            f"quotient filter is {self.size} large ({self.q_bits} q bits) "
            f"with {self.entries} entries (loaded {self.loading():0.3f})"
        ]
        if full:
            lines.append("  bucket  O C S remainder (count)")
            sv = self.filter.gather(np.arange(self.size, dtype=np.int64))
            for i in range(self.size):
                v = int(sv[i])
                if (v & _META) == 0:
                    continue
                cnt = self.storage.get(i) if self.storage is not None else 0
                lines.append(
                    f"{i:8d}  {v & 1} {(v >> 1) & 1} {(v >> 2) & 1} "
                    f"{v >> 3:x} ({cnt})"
                )
        return "\n".join(lines)

    # serde lives in qfspark.serde; convenience passthroughs:
    def to_bytes(self) -> bytes:
        from .serde import qf_to_bytes

        return qf_to_bytes(self)

    @classmethod
    def from_bytes(cls, payload: bytes) -> "QF":
        from .serde import qf_from_bytes

        return qf_from_bytes(payload)

    def __repr__(self) -> str:
        return (
            f"QF(entries={self.entries}, q_bits={self.q_bits}, "
            f"r_bits={self.r_bits}, counter_bits={self.config.counter_bits}, "
            f"bit_packed={self.config.bit_packed}, "
            f"hash={self.config.hash_name!r}, load={self.loading():.3f})"
        )

    def __eq__(self, other) -> bool:
        if not isinstance(other, QF):
            return NotImplemented
        return (
            self.q_bits == other.q_bits
            and self.entries == other.entries
            and self.config.counter_bits == other.config.counter_bits
            and self.config.bit_packed == other.config.bit_packed
            and self.config.hash_name == other.config.hash_name
            and bool(np.array_equal(self.filter.words, other.filter.words))
            and (
                self.storage is None
                and other.storage is None
                or (
                    self.storage is not None
                    and other.storage is not None
                    and bool(np.array_equal(self.storage.words, other.storage.words))
                )
            )
        )
