"""Bucket codec: delta-of-delta timestamps + block-XOR (Gorilla-style)
values + FOR-packed token streams, all numpy-vectorized.

A *bucket* is the unit the pipeline compresses inside
``applyInArrow`` — all sequences landing in one
(source, hash(doc_id) % B, salt) cell, sorted by (ts, doc_id).

Encoded layout (little-endian)::

    magic 'TSG1'                       u32
    n_rows                             u64
    ts section        delta-of-delta:  first i64, then zigzag(dod)
                      FOR-block-packed (regular grids → ~0 bits/pt)
    n_tok section     XOR-with-prev (Gorilla value scheme, block form)
    tokens section    total_len u64 + FOR-block-packed flat stream
                      (row lengths == n_tok, so no separate lengths)
    doc_id section    FOR-packed utf8 lengths + raw utf8 blob

Round-trip is bit-exact: decode(encode(b)) == b for every column,
including per-row token arrays (the north rule's enforced invariant).

XOR value scheme (Pelkonen et al. VLDB'15 §4.1.2, block-granular):
xors = v ^ shift(v); per block the common leading/trailing zero bits
of OR(xors) are stripped and the meaningful bits packed at a fixed
per-block width. Identical values (constant series) cost ~0 bits.
"""

from __future__ import annotations

import struct

import numpy as np

from .bitpack import (
    pack_signed_blocks,
    unpack_signed_blocks,
    BLOCK,
    bit_width,
    pack_fixed,
    pack_for_blocks,
    packed_size,
    unpack_fixed,
    unpack_for_blocks,
    zigzag_decode,
    zigzag_encode,
)

MAGIC = b"TSG1"


# ---------------------------------------------------------------- XOR codec
def encode_xor(values: np.ndarray, block: int = BLOCK) -> bytes:
    """Gorilla XOR codec, block-granular. values: any 64-bit dtype."""
    v = np.ascontiguousarray(values).view(np.uint64)
    out = [struct.pack("<Q", v.size)]
    if v.size == 0:
        return b"".join(out)
    out.append(struct.pack("<Q", int(v[0])))
    xors = v[1:] ^ v[:-1]
    for i in range(0, xors.size, block):
        chunk = xors[i : i + block]
        agg = np.bitwise_or.reduce(chunk) if chunk.size else np.uint64(0)
        if agg == 0:
            out.append(struct.pack("<BB", 0, 0))
            continue
        t = int(agg & (~agg + np.uint64(1))).bit_length() - 1  # trailing zeros
        w = int(agg).bit_length() - t  # meaningful width
        out.append(struct.pack("<BB", t, w))
        out.append(pack_fixed(chunk >> np.uint64(t), w))
    return b"".join(out)


def decode_xor(buf: bytes, offset: int = 0, block: int = BLOCK) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<Q", buf, offset)
    offset += 8
    if n == 0:
        return np.zeros(0, dtype=np.uint64), offset
    (first,) = struct.unpack_from("<Q", buf, offset)
    offset += 8
    xors = np.zeros(n - 1, dtype=np.uint64)
    pos = 0
    while pos < n - 1:
        cnt = min(block, n - 1 - pos)
        t, w = struct.unpack_from("<BB", buf, offset)
        offset += 2
        if w:
            nbytes = packed_size(cnt, w)
            xors[pos : pos + cnt] = (
                unpack_fixed(buf[offset : offset + nbytes], cnt, w) << np.uint64(t)
            )
            offset += nbytes
        pos += cnt
    vals = np.empty(n, dtype=np.uint64)
    vals[0] = first
    if n > 1:
        vals[1:] = xors
        np.bitwise_xor.accumulate(vals, out=vals)
    return vals, offset


# ------------------------------------------------------- delta-of-delta ts
def encode_dod(ts: np.ndarray) -> bytes:
    """Delta-of-delta timestamp codec (Gorilla §4.1.1 idea, FOR-packed).
    ts: int64 (epoch micros), any order (order is preserved)."""
    t = np.ascontiguousarray(ts, dtype=np.int64)
    out = [struct.pack("<Q", t.size)]
    if t.size == 0:
        return b"".join(out)
    out.append(struct.pack("<q", int(t[0])))
    if t.size == 1:
        return b"".join(out)
    deltas = np.diff(t)
    out.append(struct.pack("<q", int(deltas[0])))
    dod = np.diff(deltas) if deltas.size > 1 else np.zeros(0, dtype=np.int64)
    out.append(pack_for_blocks(zigzag_encode(dod)))
    return b"".join(out)


def decode_dod(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<Q", buf, offset)
    offset += 8
    if n == 0:
        return np.zeros(0, dtype=np.int64), offset
    (first,) = struct.unpack_from("<q", buf, offset)
    offset += 8
    if n == 1:
        return np.array([first], dtype=np.int64), offset
    (d0,) = struct.unpack_from("<q", buf, offset)
    offset += 8
    zz, offset = unpack_for_blocks(buf, offset)
    dod = zigzag_decode(zz)
    deltas = np.empty(n - 1, dtype=np.int64)
    deltas[0] = d0
    if dod.size:
        deltas[1:] = d0 + np.cumsum(dod)
    ts = np.empty(n, dtype=np.int64)
    ts[0] = first
    ts[1:] = first + np.cumsum(deltas)
    return ts, offset


# ------------------------------------------------------------- bucket codec
def encode_bucket(
    ts_micros: np.ndarray,
    n_tok: np.ndarray,
    tokens_flat: np.ndarray,
    doc_ids: list[str] | tuple[np.ndarray, bytes],
) -> bytes:
    """Encode one bucket's columns into a single binary blob.

    ``doc_ids`` is either a list of strings or the zero-copy form
    ``(lens_uint, utf8_blob)`` straight from Arrow StringArray buffers.
    """
    n = len(n_tok)
    assert len(ts_micros) == n
    parts = [MAGIC, struct.pack("<Q", n)]
    parts.append(encode_dod(np.asarray(ts_micros, dtype=np.int64)))
    parts.append(encode_xor(np.asarray(n_tok, dtype=np.int64).view(np.uint64)))
    tok = np.asarray(tokens_flat, dtype=np.int64)
    assert tok.size == int(np.asarray(n_tok).sum()), "tokens_flat length must equal sum(n_tok)"
    parts.append(pack_signed_blocks(tok))
    if isinstance(doc_ids, tuple):
        lens, blob = doc_ids
        lens = lens.astype(np.uint64, copy=False)
        assert len(lens) == n
    else:
        assert len(doc_ids) == n
        encoded_ids = [d.encode("utf-8") for d in doc_ids]
        blob = b"".join(encoded_ids)
        lens = np.array([len(d) for d in encoded_ids], dtype=np.uint64)
    parts.append(pack_for_blocks(lens))
    parts.append(struct.pack("<Q", len(blob)))
    parts.append(bytes(blob))
    return b"".join(parts)


def decode_bucket(
    buf: bytes, raw_ids: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[str] | tuple[np.ndarray, bytes]]:
    """Inverse of encode_bucket → (ts_micros, n_tok, tokens_flat,
    doc_ids). With ``raw_ids=True`` doc_ids comes back as
    ``(lens_uint, utf8_blob)`` for zero-copy Arrow reconstruction."""
    if buf[:4] != MAGIC:
        raise ValueError("bad magic; not a TSG1 bucket")
    (n,) = struct.unpack_from("<Q", buf, 4)
    offset = 12
    ts, offset = decode_dod(buf, offset)
    ntok_u, offset = decode_xor(buf, offset)
    n_tok = ntok_u.view(np.int64)
    tokens_flat, offset = unpack_signed_blocks(buf, offset)
    lens, offset = unpack_for_blocks(buf, offset)
    (blob_len,) = struct.unpack_from("<Q", buf, offset)
    offset += 8
    blob = buf[offset : offset + blob_len]
    assert len(lens) == n
    if raw_ids:
        return ts, n_tok, tokens_flat, (lens, blob)
    ends = np.cumsum(lens.astype(np.int64))
    starts = ends - lens.astype(np.int64)
    doc_ids = [blob[s:e].decode("utf-8") for s, e in zip(starts, ends)]
    return ts, n_tok, tokens_flat, doc_ids
