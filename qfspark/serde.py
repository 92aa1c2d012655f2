"""Filter serialization.

Two wire formats:

* **native** (``qf_to_bytes``/``qf_from_bytes``): little-endian header that
  — unlike the reference (disk.go:69-70 hard-codes murmur on reopen) —
  carries the hash name and counter width, followed by the filter vector
  words and (optionally) the storage vector words. This is the payload
  stored in shard-table rows and broadcast to executors.

* **go-qfext compatible** (``qf_to_gqf_bytes``/``qf_from_gqf_bytes``): the
  reference's exact on-disk format (serialize.go:16-122: QFHeader with
  version 0x0004, then packed/unpacked vector sections per packed.go:24-28
  and unpacked.go:40-50), so filters serialized by the Go library can be
  loaded here and vice versa. Note the Go format doesn't record the hash
  function; the caller must supply it on load (default murmur64a, matching
  the reference's behavior).

All integers are little-endian; word payloads are raw ``<u8`` numpy bytes
(zero-copy both ways — the analog of the reference's unsafe fast path,
util.go:24-67).
"""

from __future__ import annotations

import struct

import numpy as np

from .sizing import QFConfig
from .vector import PackedVector, UnpackedVector

_MAGIC = b"QFSP"
_VERSION = 1

# go-qfext constants (serialize.go:16, packed.go:16)
_GQF_VERSION = 0x0004
_GQF_PACKED_VECTOR_VERSION = 8


def expected_words(cls, bits: int, size: int) -> int:
    """Word count a (bits, size) vector must serialize to — validated on
    load so truncated/corrupt payloads fail at parse time with a clear
    error instead of as IndexErrors mid-probe."""
    from .vector import _words_required

    return _words_required(bits, size) if cls is PackedVector else size


def _vector_from_bytes(payload, offset, cls, bits, size):
    if len(payload) < offset + 8:
        raise ValueError("truncated payload: vector length field missing")
    (nwords,) = struct.unpack_from("<Q", payload, offset)
    offset += 8
    want = expected_words(cls, bits, size)
    if nwords != want:
        raise ValueError(
            f"corrupt payload: vector has {nwords} words, geometry "
            f"(bits={bits}, size={size}) requires {want}")
    if len(payload) < offset + nwords * 8:
        raise ValueError(
            f"truncated payload: vector needs {nwords * 8} bytes, "
            f"{len(payload) - offset} remain")
    words = np.frombuffer(payload, dtype="<u8", count=nwords, offset=offset).copy()
    offset += nwords * 8
    return cls(bits, size, words), offset


def qf_to_bytes(qf) -> bytes:
    """Serialize a filter in the native format.

    Single-copy: word arrays land in the output buffer exactly once
    (the analog of the reference's unsafe zero-copy fast path,
    util.go:24-67 — its ~12-15x win over field-wise encoding)."""
    hash_name = qf.config.hash_name.encode("ascii")
    header = struct.pack(
        "<4sHBBBBHQ",
        _MAGIC,
        _VERSION,
        1 if qf.config.bit_packed else 0,
        qf.q_bits,
        qf.config.counter_bits,
        len(hash_name),
        0,  # reserved
        qf.entries,
    )
    vecs = [qf.filter] + ([qf.storage] if qf.storage is not None else [])
    parts = [header, hash_name]
    for v in vecs:
        w = np.ascontiguousarray(v.words, dtype="<u8")
        parts.append(struct.pack("<Q", len(w)))
        parts.append(memoryview(w).cast("B"))  # zero-copy view; join copies once
    return b"".join(parts)


def qf_from_bytes(payload: bytes):
    """Deserialize a native-format filter. Raises ``ValueError`` on any
    malformed payload (truncated, wrong magic, wrong version) — never a
    bare ``struct.error``, which callers cannot distinguish from a bug."""
    from .kernel import QF

    if len(payload) < struct.calcsize("<4sHBBBBHQ"):
        raise ValueError(
            f"payload too short ({len(payload)} bytes); not a qfspark "
            "filter")
    magic, version, flags, q_bits, counter_bits, hlen, _, entries = struct.unpack_from(
        "<4sHBBBBHQ", payload, 0
    )
    if magic != _MAGIC:
        raise ValueError(f"bad magic {magic!r}; not a qfspark filter")
    if version != _VERSION:
        raise ValueError(f"unsupported native format version {version}")
    offset = struct.calcsize("<4sHBBBBHQ")
    hash_name = payload[offset : offset + hlen].decode("ascii")
    offset += hlen
    bit_packed = bool(flags & 1)
    cfg = QFConfig(
        counter_bits=counter_bits,
        bit_packed=bit_packed,
        hash_name=hash_name,
        q_bits=q_bits,
    )
    qf = QF(cfg)
    cls = PackedVector if bit_packed else UnpackedVector
    qf.filter, offset = _vector_from_bytes(
        payload, offset, cls, 3 + qf.r_bits, qf.size
    )
    if counter_bits > 0:
        qf.storage, offset = _vector_from_bytes(
            payload, offset, cls, counter_bits, qf.size
        )
    qf.entries = entries
    return qf


# ---------------------------------------------------------------------------
# go-qfext compatible format
# ---------------------------------------------------------------------------

def _gqf_vector_to_bytes(vec, bit_packed: bool) -> bytes:
    words = np.ascontiguousarray(vec.words, dtype="<u8")
    body = struct.pack("<Q", len(words)) + words.tobytes()
    if bit_packed:
        # packedHeader{Version, Bits, Size} (packed.go:24-28,133-146)
        return (
            struct.pack(
                "<QQQ", _GQF_PACKED_VECTOR_VERSION, vec.bits, vec.size
            )
            + body
        )
    # unpacked: bare length-prefixed word slice (unpacked.go:40-50)
    return body


def _gqf_vector_from_bytes(payload, offset, bit_packed, bits, size):
    cls = PackedVector if bit_packed else UnpackedVector
    if bit_packed:
        version, vbits, vsize = struct.unpack_from("<QQQ", payload, offset)
        offset += 24
        if version != _GQF_PACKED_VECTOR_VERSION:
            raise ValueError(
                f"packed vector version mismatch: got {version:#x}, "
                f"expected {_GQF_PACKED_VECTOR_VERSION:#x}"
            )
        if vbits != bits or vsize != size:
            raise ValueError(
                f"packed vector geometry mismatch: section says "
                f"(bits={vbits}, size={vsize}), filter header implies "
                f"(bits={bits}, size={size})")
    return _vector_from_bytes(payload, offset, cls, bits, size)


def qf_to_gqf_bytes(qf) -> bytes:
    """Serialize in the reference's exact on-disk format
    (QFHeader serialize.go:19-34 + vector sections)."""
    header = struct.pack(
        "<QQQQ?",
        _GQF_VERSION,
        qf.entries,
        qf.q_bits,
        qf.config.counter_bits,
        qf.config.bit_packed,
    )
    out = [header, _gqf_vector_to_bytes(qf.filter, qf.config.bit_packed)]
    if qf.storage is not None:
        out.append(_gqf_vector_to_bytes(qf.storage, qf.config.bit_packed))
    return b"".join(out)


def qf_from_gqf_bytes(payload: bytes, hash_name: str = "murmur64a"):
    """Load a filter serialized by the Go reference (or by
    ``qf_to_gqf_bytes``). The Go format carries no hash identifier, so the
    hash must be supplied (the reference assumes murmur, disk.go:69-70)."""
    from .kernel import QF

    version, entries, q_bits, storage_bits, bit_packed = struct.unpack_from(
        "<QQQQ?", payload, 0
    )
    if version != _GQF_VERSION:
        raise ValueError(
            f"incompatible gqf format: version {version}, expected {_GQF_VERSION}"
        )
    offset = struct.calcsize("<QQQQ?")
    cfg = QFConfig(
        counter_bits=int(storage_bits),
        bit_packed=bool(bit_packed),
        hash_name=hash_name,
        q_bits=int(q_bits),
    )
    qf = QF(cfg)
    qf.filter, offset = _gqf_vector_from_bytes(
        payload, offset, bit_packed, 3 + qf.r_bits, qf.size
    )
    if storage_bits > 0:
        qf.storage, offset = _gqf_vector_from_bytes(
            payload, offset, bit_packed, int(storage_bits), qf.size
        )
    qf.entries = int(entries)
    return qf


def read_header(payload: bytes) -> dict:
    """Peek the native header without loading vectors
    (analog of ReadHeaderFromPath, serialize.go:38-49)."""
    magic, version, flags, q_bits, counter_bits, hlen, _, entries = struct.unpack_from(
        "<4sHBBBBHQ", payload, 0
    )
    if magic != _MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    offset = struct.calcsize("<4sHBBBBHQ")
    return {
        "version": version,
        "bit_packed": bool(flags & 1),
        "q_bits": q_bits,
        "r_bits": 64 - q_bits,
        "counter_bits": counter_bits,
        "entries": entries,
        "hash_name": payload[offset : offset + hlen].decode("ascii"),
    }
