"""Zero-load read-only filter files (reference Disk parity, disk.go:18-139).

``save(qf, path)`` writes the native serialization to a file;
``open_readonly(path)`` memory-maps the word arrays instead of reading
them: opening costs one header read, and a probe (the default walk)
touches only the pages holding the slots it visits — the reference's
pay-per-probe ReadAt behavior (disk.go:31-72, packed.go:168-219), with
the OS page cache in place of its manual reads.

``open_readonly_gqf(path)`` gives the SAME zero-load behavior for files
written by the Go library itself (its exact wire format,
serialize.go:16-122) — the reference's own ``OpenReadOnlyFromPath``
answers probes against its format without loading, and so do we.

Unlike the reference, which hard-codes murmur on reopen (disk.go:69-70),
the native format reads the hash name from our header; the Go format
carries none, so the caller supplies it (default murmur, matching the
reference's assumption).
"""

from __future__ import annotations

import struct

import numpy as np

from .kernel import QF
from .serde import (
    _GQF_PACKED_VECTOR_VERSION,
    _GQF_VERSION,
    _MAGIC,
    _VERSION,
    expected_words,
    qf_to_bytes,
)
from .sizing import QFConfig
from .vector import PackedVector, UnpackedVector


def save(qf: QF, path: str) -> int:
    payload = qf_to_bytes(qf)
    with open(path, "wb") as f:
        f.write(payload)
    return len(payload)


def open_any(path: str, hash_name: str = "murmur64a") -> QF:
    """Open a filter file in either the native format or the go-qfext
    wire format — BOTH memory-mapped, zero-load (header read only; pages
    fault in per probe). The Go format carries no hash
    identifier, so ``hash_name`` applies to it (the reference itself
    assumes murmur, disk.go:69-70)."""
    with open(path, "rb") as f:
        magic = f.read(4)
    if magic == _MAGIC:
        return open_readonly(path)
    return open_readonly_gqf(path, hash_name=hash_name)


def read_header_from_path(path: str) -> dict:
    """Peek header only (reference ReadHeaderFromPath, serialize.go:38-49)."""
    from .serde import read_header

    with open(path, "rb") as f:
        return read_header(f.read(64))


def _mmap_vector(path: str, off: int, cls, bits: int, size: int):
    """Memory-map one serialized vector section (u64 length + raw words),
    validating the length against the geometry. Returns (vector,
    next_offset)."""
    with open(path, "rb") as f:
        f.seek(off)
        raw = f.read(8)
    if len(raw) < 8:
        raise ValueError("truncated filter file: vector length missing")
    (nwords,) = struct.unpack("<Q", raw)
    want = expected_words(cls, bits, size)
    if nwords != want:
        raise ValueError(
            f"corrupt filter file: vector has {nwords} words, geometry "
            f"(bits={bits}, size={size}) requires {want}")
    words = np.memmap(path, dtype="<u8", mode="r", offset=off + 8,
                      shape=(nwords,))
    vec = cls.__new__(cls)
    vec.bits = bits
    vec.size = size
    vec.words = words
    vec.mask = (
        np.uint64(0xFFFFFFFFFFFFFFFF)
        if bits == 64
        else np.uint64((1 << bits) - 1)
    )
    return vec, off + 8 + nwords * 8


def open_readonly(path: str) -> QF:
    """Open a native-format filter without loading it: word arrays are
    memory-mapped read-only. Lookups walk the mapped slots in place
    (the compiled walk for unpacked filters, the numpy walk for
    bit-packed ones or without a C compiler), so each probe faults in
    only the pages it visits: pay-per-probe. Only ``mode='index'``
    decodes the whole filter, faulting in every page — the equivalent
    of a full load."""
    with open(path, "rb") as f:
        head = f.read(struct.calcsize("<4sHBBBBHQ"))
        magic, version, flags, q_bits, counter_bits, hlen, _, entries = (
            struct.unpack("<4sHBBBBHQ", head)
        )
        if magic != _MAGIC:
            raise ValueError(f"bad magic {magic!r}; not a qfspark filter file")
        if version != _VERSION:
            raise ValueError(f"unsupported version {version}")
        hash_name = f.read(hlen).decode("ascii")
        offset = f.tell()
    bit_packed = bool(flags & 1)
    cfg = QFConfig(
        counter_bits=counter_bits, bit_packed=bit_packed,
        hash_name=hash_name, q_bits=q_bits,
    )
    qf = QF(cfg)
    cls = PackedVector if bit_packed else UnpackedVector
    qf.filter, offset = _mmap_vector(path, offset, cls, 3 + qf.r_bits, qf.size)
    if counter_bits > 0:
        qf.storage, offset = _mmap_vector(path, offset, cls, counter_bits,
                                          qf.size)
    qf.entries = entries
    return qf


def open_readonly_gqf(path: str, hash_name: str = "murmur64a") -> QF:
    """Open a file written by the Go reference library without loading
    it (its Disk mode, disk.go:31-72): header parse + memmap per vector
    section; probe cost is pages-touched, not file size."""
    hdr_fmt = "<QQQQ?"
    hdr_len = struct.calcsize(hdr_fmt)
    with open(path, "rb") as f:
        head = f.read(hdr_len)
    if len(head) < hdr_len:
        raise ValueError("truncated gqf file: header missing")
    version, entries, q_bits, storage_bits, bit_packed = struct.unpack(
        hdr_fmt, head)
    if version != _GQF_VERSION:
        raise ValueError(
            f"incompatible gqf format: version {version}, "
            f"expected {_GQF_VERSION}")
    cfg = QFConfig(
        counter_bits=int(storage_bits), bit_packed=bool(bit_packed),
        hash_name=hash_name, q_bits=int(q_bits),
    )
    qf = QF(cfg)
    cls = PackedVector if bit_packed else UnpackedVector
    offset = hdr_len

    def _section(off: int, bits: int):
        if bit_packed:
            with open(path, "rb") as f:
                f.seek(off)
                raw = f.read(24)
            pver, vbits, vsize = struct.unpack("<QQQ", raw)
            if pver != _GQF_PACKED_VECTOR_VERSION:
                raise ValueError(
                    f"packed vector version mismatch: got {pver:#x}")
            if vbits != bits or vsize != qf.size:
                raise ValueError(
                    f"packed vector geometry mismatch: section says "
                    f"(bits={vbits}, size={vsize}), header implies "
                    f"(bits={bits}, size={qf.size})")
            off += 24
        return _mmap_vector(path, off, cls, bits, qf.size)

    qf.filter, offset = _section(offset, 3 + qf.r_bits)
    if storage_bits > 0:
        qf.storage, offset = _section(offset, int(storage_bits))
    qf.entries = int(entries)
    return qf
