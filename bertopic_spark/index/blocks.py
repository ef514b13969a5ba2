"""Compressed posting blocks: one score-free layout for every scoring
tree — a varint count, then doc-id gaps, tfs and document lengths, each
a varint (or PFor) stream — plus per-block doc-range metadata (north
rule). No score is stored: a batch tree keeps one float64 weight per
(term, blk) row beside the payload, an incremental generation takes its
weights from the merged stats, and the top-k kernel scores every posting
from (tf, doc length, weight) (segments.posting_scorer).

Layout decision for 100 TB: blocks are keyed by (term, doc_id // SPAN) —
doc-id-RANGE aligned, not fixed-count. Rationale:

* a fixed-count layout (every 128th posting starts a block) needs a rank
  within the term's posting list = a window partitioned BY TERM — a stop
  term with 10^10 postings serializes into one task. Range-aligned blocks
  are computable with a narrow expression (``doc_id // SPAN``); a heavy
  term just produces many groups → groupBy parallelizes it. This IS the
  skew handling for posting construction (no explicit salting needed: the
  composite key (term, blk) is the salt, and it's deterministic).
* WAND-style skipping wants monotone doc-id ranges per block anyway; range
  alignment gives every term the SAME bucket grid, so a bucket's upper
  bound across query terms is a sum of block maxes (segments.query_topk).

Encoding (pure little-endian varint, first doc-id delta-encoded against the
block's range start): deterministic — byte-identical across cluster sizes,
which the checkpoint/resume equality test relies on.

Reference parity note: BERTopic persists its index as raw CSR triplets
(``bertopic/_bertopic.py:5097-5117``); the compression layer is the north
rule's addition, not the reference's.
"""

from __future__ import annotations

from typing import Iterable, List, Tuple

import numpy as np

DEFAULT_SPAN = 4096  # doc-ids per block bucket


# ---------------------------------------------------------------------------
# Vectorized varint codec (numpy) — the hot path. The scalar reference
# implementation below stays as the property-test oracle; both produce
# byte-identical streams.
# ---------------------------------------------------------------------------

def _varint_encode_np(vals: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array; ≤10 numpy passes regardless of size."""
    v = vals.astype(np.uint64, copy=False)
    if v.size == 0:
        return b""
    # bytes needed = ceil(bitlen/7), min 1 — count 7-bit chunks
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbytes[nz] += 1
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for kk in range(int(nbytes.max())):
        sel = nbytes > kk
        byte = ((v[sel] >> np.uint64(7 * kk)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] - 1 > kk)
        byte = byte | (cont.astype(np.uint8) << 7)
        out[starts[sel] + kk] = byte
    return out.tobytes()


def _varint_decode_np(buf: np.ndarray, pos: int, n: int) -> Tuple[np.ndarray, int]:
    """Decode n varints from buf starting at pos; returns (values, new_pos)."""
    if n == 0:
        return np.empty(0, dtype=np.uint64), pos
    b = buf[pos:]
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)[:n]
    last = int(ends[-1])
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = np.zeros(n, dtype=np.uint64)
    width = ends - starts + 1
    for kk in range(int(width.max())):
        sel = width > kk
        vals[sel] |= (b[starts[sel] + kk].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * kk)
    return vals, pos + last + 1


def _varint_encode(values: Iterable[int], out: bytearray) -> None:
    for v in values:
        if v < 0:
            raise ValueError(f"varint value must be >= 0, got {v}")
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break


def _varint_decode(buf: bytes, pos: int, n: int) -> Tuple[List[int], int]:
    vals = []
    for _ in range(n):
        shift = 0
        v = 0
        while True:
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        vals.append(v)
    return vals, pos


def _gaps(ids: np.ndarray, range_start: int) -> np.ndarray:
    """Doc-id gaps, the first one against the block's range start."""
    gaps = np.empty(ids.shape, dtype=np.uint64)
    gaps[0] = ids[0] - range_start
    gaps[1:] = np.diff(ids).astype(np.uint64)
    return gaps


def encode_block_py(doc_ids: List[int], tfs: List[int], doc_lens: List[int],
                    range_start: int) -> bytes:
    """Scalar reference encoder (property-test oracle for the numpy path)."""
    if not doc_ids:
        return b""
    out = bytearray()
    _varint_encode([len(doc_ids)], out)
    deltas = [doc_ids[0] - range_start]
    deltas.extend(doc_ids[i] - doc_ids[i - 1] for i in range(1, len(doc_ids)))
    _varint_encode(deltas, out)
    _varint_encode(tfs, out)
    _varint_encode(doc_lens, out)
    return bytes(out)


def decode_block_py(payload: bytes, range_start: int) -> Tuple[List[int], List[int], List[int]]:
    """Scalar reference decoder (oracle for the numpy path)."""
    if not payload:
        return [], [], []
    (n,), pos = _varint_decode(payload, 0, 1)
    deltas, pos = _varint_decode(payload, pos, n)
    tfs, pos = _varint_decode(payload, pos, n)
    doc_lens, pos = _varint_decode(payload, pos, n)
    doc_ids = []
    acc = range_start
    for d in deltas:
        acc += d
        doc_ids.append(acc)
    return doc_ids, tfs, doc_lens


def encode_block(doc_ids, tfs, doc_lens, range_start: int) -> bytes:
    """Encode one block's postings (doc_ids ascending within the block).

    Payload: varint n; varint doc-id gaps (the first against
    range_start); varint tfs; varint document lengths. No score is
    stored: a posting's score is a function of its tf, its document's
    length and the per-(term, blk) weight beside the payload, and the
    top-k kernel computes it in float64 in the operation order of the
    one-shot scorers (segments.posting_scorer), so it is bit-identical
    to theirs. Vectorized (numpy); byte-identical to ``encode_block_py``.
    """
    ids = np.asarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    head = bytearray()
    _varint_encode([int(ids.size)], head)
    return bytes(head) + _varint_encode_np(np.concatenate([
        _gaps(ids, range_start), np.asarray(tfs, dtype=np.uint64),
        np.asarray(doc_lens, dtype=np.uint64)]))


def decode_block(payload: bytes, range_start: int) -> Tuple[List[int], List[int], List[int]]:
    """Inverse of encode_block (numpy fast path; returns plain lists)."""
    ids, tfs, doc_lens = decode_block_arrays(payload, range_start)
    return ids.tolist(), tfs.tolist(), doc_lens.tolist()


# ---------------------------------------------------------------------------
# PFor-delta codec (Zukowski et al., ICDE 2006; NewPFD patch scheme of
# Yan/Ding/Suel, WWW 2009): bit-pack every value's low b bits at a fixed
# width chosen per block, patch the overflow ("exceptions") out of band as
# varints. Same block grid, metadata and three integer streams as the
# varint codec — only their bytes change — so block maxes and rank
# identity are codec-independent. The north rule names this family
# explicitly ("delta+varint (PForDelta-style) compressed posting blocks");
# jobs/pfor_ab.py measures both codecs head-to-head.
# ---------------------------------------------------------------------------

def _pack_bits(vals: np.ndarray, b: int) -> bytes:
    """Bit-pack uint64 values at fixed width ``b`` (little-endian bit order)."""
    if b == 0 or vals.size == 0:
        return b""
    bits = ((vals[:, None] >> np.arange(b, dtype=np.uint64)) & np.uint64(1))
    return np.packbits(bits.astype(np.uint8).ravel(), bitorder="little").tobytes()


def _unpack_bits(buf: np.ndarray, pos: int, n: int, b: int) -> Tuple[np.ndarray, int]:
    """Inverse of _pack_bits: n b-bit values from buf[pos:]."""
    if b == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64), pos
    nbytes = (n * b + 7) // 8
    bits = np.unpackbits(buf[pos:pos + nbytes], count=n * b,
                         bitorder="little").reshape(n, b).astype(np.uint64)
    vals = (bits << np.arange(b, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return vals, pos + nbytes


def _pfor_width(v: np.ndarray) -> int:
    """Cost-minimizing patch width (deterministic; ties → smaller b).

    cost(b) = ceil(n·b/8) packed bytes + Σ_{nbits>b} ceil((nbits-b)/7)
    varint high-bit bytes + 1 position-delta byte per exception, minimized
    over b = 0..max_bitlen via the bit-length histogram — O(n) to build
    the histogram, O(65²) scalar work after, independent of block size
    (the chooser is encoder-side only: the stream records b, so any
    deterministic choice decodes identically)."""
    if v.size == 0:
        return 0
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while (tmp > 0).any():
        nz = tmp > 0
        nbits[nz] += 1
        tmp >>= np.uint64(1)
    hist = np.bincount(nbits, minlength=65).astype(np.int64)
    hi = int(nbits.max())
    n = int(v.size)
    best_b, best_cost = 0, None
    for b in range(hi + 1):
        cost = (n * b + 7) // 8
        for j in range(b + 1, hi + 1):
            if hist[j]:
                cost += int(hist[j]) * (((j - b) + 6) // 7 + 1)
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    return best_b


def _pfor_encode_np(vals: np.ndarray) -> bytes:
    """One PFor-patched integer stream: varint n_exc; byte b; packed low
    bits; varint exception position deltas; varint exception high bits."""
    v = vals.astype(np.uint64, copy=False)
    b = _pfor_width(v)
    if b >= 64:
        exc, low = np.zeros(v.shape, bool), v
    elif b == 0:
        exc, low = v > 0, np.zeros(v.shape, np.uint64)
    else:
        exc = (v >> np.uint64(b)) > 0
        low = v & np.uint64((1 << b) - 1)
    head = bytearray()
    _varint_encode([int(exc.sum())], head)
    head.append(b)
    out = bytes(head) + _pack_bits(low, b)
    if exc.any():
        pos = np.flatnonzero(exc)
        posd = np.empty(pos.shape, dtype=np.uint64)
        posd[0] = pos[0]
        posd[1:] = np.diff(pos)
        out += _varint_encode_np(posd) + _varint_encode_np(v[exc] >> np.uint64(b))
    return out


def _pfor_decode_np(buf: np.ndarray, pos: int, n: int) -> Tuple[np.ndarray, int]:
    (n_exc_arr, pos) = _varint_decode_np(buf, pos, 1)
    n_exc = int(n_exc_arr[0])
    b = int(buf[pos]); pos += 1
    vals, pos = _unpack_bits(buf, pos, n, b)
    if n_exc:
        posd, pos = _varint_decode_np(buf, pos, n_exc)
        highs, pos = _varint_decode_np(buf, pos, n_exc)
        idx = np.cumsum(posd.astype(np.int64))
        idx[0] = int(posd[0])  # first delta is absolute
        vals[idx] |= highs << np.uint64(b)
    return vals, pos


def encode_block_pfor(doc_ids, tfs, doc_lens, range_start: int) -> bytes:
    """PFor-delta flavor of ``encode_block``: varint n; PFor(doc-id gaps);
    PFor(tfs); PFor(document lengths). Same semantics, alternative codec."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    head = bytearray()
    _varint_encode([int(ids.size)], head)
    return (
        bytes(head)
        + _pfor_encode_np(_gaps(ids, range_start))
        + _pfor_encode_np(np.asarray(tfs, dtype=np.uint64))
        + _pfor_encode_np(np.asarray(doc_lens, dtype=np.uint64))
    )


def _empty_postings():
    return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))


def decode_block_pfor_arrays(payload: bytes, range_start: int):
    """Inverse of encode_block_pfor (numpy arrays, same contract as
    ``decode_block_arrays``)."""
    if not payload:
        return _empty_postings()
    buf = np.frombuffer(payload, dtype=np.uint8)
    (n_arr, pos) = _varint_decode_np(buf, 0, 1)
    n = int(n_arr[0])
    deltas, pos = _pfor_decode_np(buf, pos, n)
    tfs, pos = _pfor_decode_np(buf, pos, n)
    doc_lens, pos = _pfor_decode_np(buf, pos, n)
    doc_ids = np.cumsum(deltas.astype(np.int64)) + range_start
    return doc_ids, tfs.astype(np.int64), doc_lens.astype(np.int64)


def decode_block_arrays(payload: bytes, range_start: int):
    """Inverse of encode_block as numpy arrays (int64 ids, int64 tfs,
    int64 document lengths)."""
    return _decode_varint_payloads([payload], [range_start])[1:]


def _decode_varint_payloads(payloads, range_starts):
    """Every varint block of a batch in one pass over the concatenated
    payloads: each payload is nothing but varints (n, then 3·n values),
    so all of them decode at once, and a payload's first varint is the
    number of varints that end before its first byte."""
    lens = np.fromiter((len(p) for p in payloads), np.int64, len(payloads))
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    ends = np.flatnonzero(buf < 0x80)
    starts = np.empty_like(ends)
    starts[:1] = 0
    starts[1:] = ends[:-1] + 1
    vals = (buf[starts] & 0x7F).astype(np.uint64)
    width = ends - starts + 1
    for kk in range(1, int(width.max()) if len(width) else 0):
        sel = np.flatnonzero(width > kk)
        vals[sel] |= ((buf[starts[sel] + kk] & 0x7F).astype(np.uint64)
                      << np.uint64(7 * kk))
    vals = vals.astype(np.int64)
    first = np.searchsorted(ends, np.cumsum(lens) - lens)
    n = np.zeros(len(lens), np.int64)
    full = lens > 0
    n[full] = vals[first[full]]
    total = int(n.sum())
    block_start = np.cumsum(n) - n  # each block's first posting
    rep_n = np.repeat(n, n)
    at = np.repeat(first + 1 - block_start, n) + np.arange(total)
    gaps = vals[at]
    csum = np.cumsum(gaps)
    # a block's ids restart from its range start
    before = (csum - gaps)[block_start[full]]
    ids = csum + np.repeat(np.asarray(range_starts, np.int64)[full]
                           - before, n[full])
    return n, ids, vals[at + rep_n], vals[at + 2 * rep_n]


def decode_payloads(codec: str, payloads, range_starts):
    """A batch of ``codec`` blocks: (postings per block, doc ids, tfs,
    document lengths), the last three concatenated in block order. The
    varint codec decodes the whole batch in one vectorized pass; PFor
    decodes block by block."""
    if codec == "varint":
        return _decode_varint_payloads(payloads, range_starts)
    decode = CODECS[codec][1]
    parts = [decode(p, r) for p, r in zip(payloads, range_starts)]
    if not parts:
        return (np.empty(0, np.int64), *_empty_postings())
    ids, tfs, doc_lens = (np.concatenate(c) for c in zip(*parts))
    return np.array([len(p[0]) for p in parts], np.int64), ids, tfs, doc_lens


# codec name → (encode, decode one block); the name is what a block
# payload's format tag records (segments.tag_payload)
CODECS = {
    "varint": (encode_block, decode_block_arrays),
    "pfor": (encode_block_pfor, decode_block_pfor_arrays),
}
