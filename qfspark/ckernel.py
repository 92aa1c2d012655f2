"""Optional compiled kernels: the scalar insert and the walk probe.

``QF.insert_hashes`` — the applyInPandasWithState streaming-dedup hot
path — inserts one key at a time with a sequential ripple shift; in
Python that costs microseconds per key, in C a fraction of one. So
this module compiles the EXACT ``_insert_hash_nogrow`` algorithm (a
line-by-line port; same slot meta bits, same duplicate/ripple/findStart
control flow) to a shared object with the system C compiler at first
use and drives it through ctypes. The same object carries the bulk
fill (a port of ``QF._bulk_fill``) and the walk probe behind
``QF.lookup_hashes`` (a port of ``QF._probe_walk``, reference
lookupByHash/findStart): every broadcast lookup, shard-table probe and
stream-state probe walks the filter in place, so executors hold only
the filter, no decoded index.

Strictly an accelerator, never a requirement:

* It only applies to UNPACKED vectors (one uint64 word per slot — the
  library default and the streaming-state configuration); bit-packed
  filters take the scalar insert (``QF._insert_hash_nogrow`` in a loop)
  and the numpy walk probe (``QF._probe_walk``). The probe only reads
  the words, so read-only memmaps (``disk.open_readonly``) take it; the
  insert writes, so they do not.
* Compilation is attempted once per process; ANY failure (no compiler,
  no safe cache dir, load error) selects the scalar insert and the
  numpy walk probe. Both stay answer- and byte-identical (the
  differential suites run both paths) but cost more per key: ~15-40x
  for the insert, ~7-30x for the probe. The reason is kept in
  ``load_error`` and logged once at WARNING on the ``qfspark.ckernel``
  logger.
* ``QFSPARK_NO_CKERNEL=1`` disables it outright, without a warning
  (used by the parity tests to pin the scalar insert and the numpy
  walk, and the escape hatch for exotic toolchains).

The compiled object is cached under the user cache dir keyed by the md5
of the C source, so each source revision compiles at most once per
machine; the write is build-to-temp + atomic rename, safe under
concurrent executors. The cache dir (``$XDG_CACHE_HOME/qfspark``, else
``~/.cache/qfspark``) is created 0700; an existing one must be owned by
the current user and not writable by group or other (an owned 0755 dir
is tightened to 0700), and only a cached object owned by the user is
loaded. There is no shared-tempdir fallback: code another local user
could plant is never loaded into the process.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import stat
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>

#define OCC 1ULL
#define CONT 2ULL
#define SHIFT 4ULL
#define META 7ULL

/* Exact port of qfspark.kernel.QF._insert_hash_nogrow over UNPACKED
   slot/storage word arrays. hashes: ascending, no growth within the
   call (the caller chunks growth-safely). value: pre-clamped to the
   counter mask by the caller (min(v, cmask) commutes with the add
   branch's min(old + v, cmask) saturation). present_out[i] = 1 when
   hashes[i] was already present. Returns the number of NEW entries. */
long qf_insert_batch(uint64_t *filt, uint64_t *storage,
                     long size, int r_bits, uint64_t r_mask,
                     uint64_t cmask, const uint64_t *hashes, long n,
                     uint64_t value, int add, uint8_t *present_out)
{
    long mask = size - 1;
    long new_entries = 0;
    for (long e = 0; e < n; e++) {
        uint64_t hv = hashes[e];
        long dq = (long)(hv >> r_bits);
        uint64_t dr = hv & r_mask;
        uint64_t sd = filt[dq];
        present_out[e] = 0;

        /* case 1: home slot empty -> claim it */
        if ((sd & META) == 0) {
            filt[dq] = OCC | (dr << 3);
            if (storage)
                storage[dq] = value;
            new_entries++;
            continue;
        }

        int extending = (sd & OCC) != 0;
        if (!extending)
            filt[dq] = sd | OCC;

        long run_start = dq;
        if (sd & SHIFT) {
            /* findStart (reference qf.go:422-444) */
            long runs = 1, complete = 0;
            long i = dq;
            for (;;) {
                uint64_t s = filt[i];
                if (!(s & CONT)) complete++;
                if (!(s & SHIFT)) break;
                if (s & OCC) runs++;
                i = (i - 1) & mask;
            }
            long pos = dq;
            while (runs > complete) {
                pos = (pos + 1) & mask;
                if (!(filt[pos] & CONT)) complete++;
            }
            run_start = pos;
        }

        /* find sorted position within the run */
        long slot = run_start;
        uint64_t cur = filt[slot];
        if (extending) {
            for (;;) {
                if ((cur & META) == 0 || (cur >> 3) >= dr)
                    break;
                slot = (slot + 1) & mask;
                cur = filt[slot];
                if (!(cur & CONT))
                    break;
            }
            if ((cur & META) != 0 && (cur >> 3) == dr &&
                (slot == run_start || (cur & CONT))) {
                /* duplicate within our own run: overwrite/add count */
                if (storage) {
                    if (add) {
                        __uint128_t s =
                            (__uint128_t)storage[slot] + value;
                        storage[slot] =
                            s < (__uint128_t)cmask ? (uint64_t)s : cmask;
                    } else {
                        storage[slot] = value;
                    }
                }
                present_out[e] = 1;
                continue;
            }
        }

        /* case 3: ripple-shift the new remainder into place */
        new_entries++;
        int shifted_bit = slot != dq;
        int cont_bit = slot != run_start;
        uint64_t cur_r = dr;
        uint64_t cur_v = value;
        for (;;) {
            uint64_t old = filt[slot];
            filt[slot] = (old & OCC)
                | (cont_bit ? CONT : 0)
                | (shifted_bit ? SHIFT : 0)
                | (cur_r << 3);
            if (storage) {
                uint64_t t = storage[slot];
                storage[slot] = cur_v;
                cur_v = t;
            }
            if ((old & META) == 0)
                break;
            if ((slot == run_start && extending) || (old & CONT))
                cont_bit = 1;
            else
                cont_bit = 0;
            cur_r = old >> 3;
            slot = (slot + 1) & mask;
            shifted_bit = 1;
        }
    }
    return new_entries;
}

/* Exact port of qfspark.kernel.QF._probe_walk (reference
   lookupByHash/findStart, qf.go:422-500) over UNPACKED slot/storage
   word arrays, one probe at a time. Reads only (the words may be a
   read-only memmap). found_out[i] = 1 and counts_out[i] = the stored
   counter (0 without storage) when hashes[i] is present; both 0
   otherwise. */
void qf_probe_batch(const uint64_t *filt, const uint64_t *storage,
                    long size, int r_bits, uint64_t r_mask,
                    const uint64_t *hashes, long n,
                    uint8_t *found_out, uint64_t *counts_out)
{
    long mask = size - 1;
    for (long e = 0; e < n; e++) {
        uint64_t hv = hashes[e];
        long dq = (long)(hv >> r_bits);
        uint64_t dr = hv & r_mask;
        found_out[e] = 0;
        counts_out[e] = 0;
        /* unoccupied home bucket -> miss */
        if (!(filt[dq] & OCC))
            continue;

        /* findStart: count runs left to the cluster start, then walk
           right until our run starts */
        long runs = 1, complete = 0;
        long i = dq;
        for (;;) {
            uint64_t s = filt[i];
            if (!(s & CONT)) complete++;
            if (!(s & SHIFT)) break;
            if (s & OCC) runs++;
            i = (i - 1) & mask;
        }
        long slot = dq;
        while (runs > complete) {
            slot = (slot + 1) & mask;
            if (!(filt[slot] & CONT)) complete++;
        }

        /* scan the remainder-sorted run */
        for (int first = 1;; first = 0) {
            uint64_t s = filt[slot];
            if (!first && !(s & CONT))
                break;
            uint64_t r = s >> 3;
            if (r == dr) {
                found_out[e] = 1;
                if (storage)
                    counts_out[e] = storage[slot];
                break;
            }
            if (r > dr)
                break;
            slot = (slot + 1) & mask;
        }
    }
}

#include <stdlib.h>

/* Exact port of qfspark.kernel.QF._bulk_fill over UNPACKED zeroed
   slot/storage word arrays: hv is SORTED UNIQUE (quotients grouped),
   counts aligned or NULL (NULL => storage untouched, as in the numpy
   path). Same run-start recurrence start_j = C_j + runmax(q_j - C_j)
   (C_j = exclusive run-length cumsum = the run's first entry index),
   same doubled-sequence pass when the last cluster overflows the
   table end. One sequential pass writes every slot; the numpy path's
   ~15 full-array dispatches become zero. Returns 0, or -1 on
   allocation failure (caller falls back to numpy). */
long qf_bulk_fill(uint64_t *filt, uint64_t *storage, long size,
                  int r_bits, uint64_t r_mask, uint64_t cmask,
                  const uint64_t *hv, const uint64_t *counts, long n)
{
    if (n == 0)
        return 0;
    long mask = size - 1;
    long m = 1;
    for (long i = 1; i < n; i++)
        if ((hv[i] >> r_bits) != (hv[i - 1] >> r_bits))
            m++;
    long *uq = malloc((size_t)m * sizeof(long));
    long *first = malloc(((size_t)m + 1) * sizeof(long));
    long *starts = malloc((size_t)m * sizeof(long));
    if (!uq || !first || !starts) {
        free(uq); free(first); free(starts);
        return -1;
    }
    long j = 0;
    uq[0] = (long)(hv[0] >> r_bits);
    first[0] = 0;
    for (long i = 1; i < n; i++) {
        long q = (long)(hv[i] >> r_bits);
        if (q != uq[j]) {
            ++j;
            uq[j] = q;
            first[j] = i;
        }
    }
    first[m] = n;

    /* linear recurrence (C_k == first[k]) */
    long rm = 0;
    for (long k = 0; k < m; k++) {
        long d = uq[k] - first[k];
        rm = (k == 0 || d > rm) ? d : rm;
        starts[k] = first[k] + rm;
    }
    /* circular wraparound: redo over the doubled sequence, exactly as
       the numpy path does, when the last cluster overflows the end */
    if (starts[m - 1] + (first[m] - first[m - 1]) > size) {
        long rm2 = 0;
        for (long k = 0; k < 2 * m; k++) {
            long Cd = (k < m) ? first[k] : n + first[k - m];
            long qd = (k < m) ? uq[k] : uq[k - m] + size;
            long d = qd - Cd;
            rm2 = (k == 0 || d > rm2) ? d : rm2;
            if (k >= m)
                starts[k - m] = Cd + rm2 - size;
        }
    }

    for (long k = 0; k < m; k++) {
        long f = first[k], e = first[k + 1];
        long st = starts[k];
        long home = uq[k];
        for (long i = f; i < e; i++) {
            long pos = (st + (i - f)) & mask;
            uint64_t v = (hv[i] & r_mask) << 3;
            if (i != f)
                v |= CONT;
            if (pos != home)
                v |= SHIFT;
            filt[pos] |= v;
            if (storage && counts) {
                uint64_t c = counts[i];
                storage[pos] |= (c < cmask ? c : cmask);
            }
        }
        filt[home] |= OCC;
    }
    free(uq); free(first); free(starts);
    return 0;
}
"""

_log = logging.getLogger(__name__)
_lib = None
_tried = False
#: why the kernel is unavailable (the exception text), None if loaded
load_error: str | None = None


def _check_owned(path: str, kind: str) -> os.stat_result:
    """lstat ``path``: it must be a ``kind`` ('dir' or 'file'; not a
    symlink) owned by the current uid, else PermissionError. (A file's
    own mode bits do not matter: only its 0700 directory leads to it.)"""
    st = os.lstat(path)
    is_kind = stat.S_ISDIR if kind == "dir" else stat.S_ISREG
    if not is_kind(st.st_mode) or st.st_uid != os.getuid():
        raise PermissionError(
            f"{path} is not a {kind} owned by uid {os.getuid()}")
    return st


def _cache_dir() -> str:
    """The per-user kernel cache dir (see the module docstring); raises
    OSError when it cannot be made or is not safe to load from."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "qfspark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    mode = stat.S_IMODE(_check_owned(d, "dir").st_mode)
    if mode & 0o022:
        # another user may already have planted an object here
        raise PermissionError(f"{d} is writable by group or other")
    if mode & 0o077:
        os.chmod(d, 0o700)
    return d


def _compile_and_load() -> ctypes.CDLL:
    tag = hashlib.md5(_C_SRC.encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_dir(), f"qf_ckernel_{tag}.so")
    if not os.path.exists(so_path):
        cc = os.environ.get("CC", "cc")
        with tempfile.TemporaryDirectory() as td:
            c_path = os.path.join(td, "qf_ckernel.c")
            tmp_so = os.path.join(td, "qf_ckernel.so")
            with open(c_path, "w") as f:
                f.write(_C_SRC)
            subprocess.run(
                [cc, "-O2", "-shared", "-fPIC", "-o", tmp_so, c_path],
                check=True, capture_output=True, timeout=120,
            )
            # atomic publish: concurrent processes race benignly (same
            # bytes; rename over an existing file is atomic on POSIX)
            os.replace(tmp_so, so_path)
    _check_owned(so_path, "file")
    lib = ctypes.CDLL(so_path)
    fn = lib.qf_insert_batch
    fn.restype = ctypes.c_long
    fn.argtypes = [
        ctypes.POINTER(ctypes.c_uint64),  # filt
        ctypes.POINTER(ctypes.c_uint64),  # storage (or NULL)
        ctypes.c_long,                    # size
        ctypes.c_int,                     # r_bits
        ctypes.c_uint64,                  # r_mask
        ctypes.c_uint64,                  # cmask
        ctypes.POINTER(ctypes.c_uint64),  # hashes
        ctypes.c_long,                    # n
        ctypes.c_uint64,                  # value (pre-clamped)
        ctypes.c_int,                     # add
        ctypes.POINTER(ctypes.c_uint8),   # present_out
    ]
    bf = lib.qf_bulk_fill
    bf.restype = ctypes.c_long
    bf.argtypes = [
        ctypes.POINTER(ctypes.c_uint64),  # filt
        ctypes.POINTER(ctypes.c_uint64),  # storage (or NULL)
        ctypes.c_long,                    # size
        ctypes.c_int,                     # r_bits
        ctypes.c_uint64,                  # r_mask
        ctypes.c_uint64,                  # cmask
        ctypes.POINTER(ctypes.c_uint64),  # hv (sorted unique)
        ctypes.POINTER(ctypes.c_uint64),  # counts (or NULL)
        ctypes.c_long,                    # n
    ]
    pb = lib.qf_probe_batch
    pb.restype = None
    pb.argtypes = [
        ctypes.POINTER(ctypes.c_uint64),  # filt (read only)
        ctypes.POINTER(ctypes.c_uint64),  # storage (or NULL; read only)
        ctypes.c_long,                    # size
        ctypes.c_int,                     # r_bits
        ctypes.c_uint64,                  # r_mask
        ctypes.POINTER(ctypes.c_uint64),  # hashes
        ctypes.c_long,                    # n
        ctypes.POINTER(ctypes.c_uint8),   # found_out
        ctypes.POINTER(ctypes.c_uint64),  # counts_out
    ]
    return lib


def get_kernel():
    """The loaded kernel library, or None when unavailable/disabled.
    Tried once per process; every failure mode degrades to None, with
    the reason in ``load_error``."""
    global _lib, _tried, load_error
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("QFSPARK_NO_CKERNEL"):
        _lib = None
        load_error = "disabled by QFSPARK_NO_CKERNEL"
        return _lib
    try:
        _lib = _compile_and_load()
        load_error = None
    except Exception as e:
        _lib = None
        load_error = f"{type(e).__name__}: {e}"
        _log.warning("compiled kernel unavailable, using the scalar "
                     "insert and the numpy walk probe: %s", load_error)
    return _lib


_U64P = ctypes.POINTER(ctypes.c_uint64)
_U8P = ctypes.POINTER(ctypes.c_uint8)


def insert_batch(lib, filt_words: np.ndarray,
                 storage_words: np.ndarray | None,
                 size: int, r_bits: int, r_mask: int, cmask: int,
                 hashes: np.ndarray, value: int, add: bool) -> tuple:
    """Drive one growth-safe ascending chunk through the C kernel.
    Returns (present_flags: bool ndarray, new_entries: int)."""
    n = len(hashes)
    present = np.zeros(n, dtype=np.uint8)
    new = lib.qf_insert_batch(
        filt_words.ctypes.data_as(_U64P),
        storage_words.ctypes.data_as(_U64P)
        if storage_words is not None else None,
        size, r_bits, r_mask & 0xFFFFFFFFFFFFFFFF,
        cmask & 0xFFFFFFFFFFFFFFFF,
        hashes.ctypes.data_as(_U64P), n,
        (min(int(value), cmask) if storage_words is not None else 0)
        & 0xFFFFFFFFFFFFFFFF,
        1 if add else 0,
        present.ctypes.data_as(_U8P),
    )
    return present.view(bool), int(new)


def bulk_fill(lib, filt_words: np.ndarray,
              storage_words: np.ndarray | None,
              size: int, r_bits: int, r_mask: int, cmask: int,
              hv: np.ndarray, counts: np.ndarray | None) -> int:
    """Drive the single-pass canonical fill through the C kernel.
    hv must be sorted unique; returns 0 on success, -1 if the kernel
    could not allocate (caller falls back to the numpy fill)."""
    return int(lib.qf_bulk_fill(
        filt_words.ctypes.data_as(_U64P),
        storage_words.ctypes.data_as(_U64P)
        if storage_words is not None else None,
        size, r_bits, r_mask & 0xFFFFFFFFFFFFFFFF,
        cmask & 0xFFFFFFFFFFFFFFFF,
        hv.ctypes.data_as(_U64P),
        counts.ctypes.data_as(_U64P) if counts is not None else None,
        len(hv),
    ))


def probe_batch(lib, filt_words: np.ndarray,
                storage_words: np.ndarray | None,
                size: int, r_bits: int, r_mask: int,
                hashes: np.ndarray) -> tuple:
    """Probe a batch through the C walk; the word arrays are only read,
    so a read-only memmap is safe. Returns (found: bool ndarray,
    counts: uint64 ndarray), aligned to ``hashes``."""
    # the kernel indexes size words through raw pointers: refuse any
    # array it could read past the end of
    for words in (filt_words, storage_words):
        if words is not None and (words.dtype.itemsize != 8
                                  or not words.flags.c_contiguous
                                  or len(words) != size):
            raise ValueError(f"word array does not match {size} slots")
    hashes = np.ascontiguousarray(hashes, dtype=np.uint64)
    n = len(hashes)
    found = np.empty(n, dtype=np.uint8)
    counts = np.empty(n, dtype=np.uint64)
    lib.qf_probe_batch(
        filt_words.ctypes.data_as(_U64P),
        storage_words.ctypes.data_as(_U64P)
        if storage_words is not None else None,
        size, r_bits, r_mask & 0xFFFFFFFFFFFFFFFF,
        hashes.ctypes.data_as(_U64P), n,
        found.ctypes.data_as(_U8P), counts.ctypes.data_as(_U64P),
    )
    return found.view(bool), counts
