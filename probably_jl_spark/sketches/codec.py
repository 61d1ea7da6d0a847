"""Binary codec shared by all sketch states.

Every sketch serializes to ``MAGIC(4s) | kind(u8) | version(u8) |
header_len(u16) | header bytes | payload bytes`` where the header is a
small struct of the sketch's fixed parameters and the payload is the raw
little-endian state array(s). This single canonical encoding is what
crosses the JVM<->Python boundary (BinaryType column), what lands in the
checkpoint/lineage table, and what the serialization round-trip law tests
(`from_bytes(to_bytes(s)) == s` byte-exact; reference analogue: register
equality semantics at src/hyperloglog/hyperloglog.jl:90-98).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"PJS1"

KIND_HLL = 1
KIND_CMS = 2
KIND_BLOOM = 3
KIND_CUCKOO = 4
KIND_TDIGEST = 5
KIND_KLL = 6
KIND_KMV = 7
KIND_MG = 8

_PREFIX = struct.Struct("<4sBBH")


def wrap(kind: int, header: bytes, payload: bytes, version: int = 1) -> bytes:
    return _PREFIX.pack(MAGIC, kind, version, len(header)) + header + payload


def unwrap(data: bytes, expected_kind: int, expected_version: int = 1) -> tuple[bytes, bytes]:
    if len(data) < _PREFIX.size:
        raise ValueError(f"sketch blob too short ({len(data)} bytes)")
    magic, kind, version, hlen = _PREFIX.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    if kind != expected_kind:
        raise ValueError(f"expected sketch kind {expected_kind}, got {kind}")
    if version != expected_version:
        raise ValueError(f"expected version {expected_version}, got {version}")
    off = _PREFIX.size
    return data[off : off + hlen], data[off + hlen :]


def peek_kind(data: bytes) -> int:
    magic, kind, _, _ = _PREFIX.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    return kind


def peek_version(data: bytes) -> int:
    magic, _, version, _ = _PREFIX.unpack_from(data, 0)
    if magic != MAGIC:
        raise ValueError(f"bad magic {magic!r}")
    return version


def blob_buffers(blobs) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 buffer, int64 offsets) of many blobs: blob i is
    ``flat[offs[i]:offs[i+1]]``. A pyarrow (large_)binary array is read in
    place; any other sequence of bytes is joined once."""
    if hasattr(blobs, "buffers"):
        import pyarrow as pa

        _, ob, db = blobs.buffers()
        otype = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
        offs = np.frombuffer(ob, dtype=otype)[blobs.offset : blobs.offset + len(blobs) + 1]
        flat = np.frombuffer(db, dtype=np.uint8) if db is not None else np.zeros(0, np.uint8)
        return flat, offs.astype(np.int64)
    offs = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, blobs), count=len(blobs), dtype=np.int64), out=offs[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), offs
