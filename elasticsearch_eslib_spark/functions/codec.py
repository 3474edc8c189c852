"""PForDelta-style block codec for posting lists (SURVEY.md §2.5, pinned).

The reference has no index format of its own (it shipped documents to
Elasticsearch; SURVEY.md §2.2) — this codec implements the BASELINE.json
north_star requirement: "delta-encoded, block-compressed (PForDelta-style)
postings with block-max metadata".

Pinned format, per packed integer stream (one block, n ≤ BLOCK_SIZE values):

  header  : b:uint8  n_exceptions:uint8  n:uint8         (3 bytes)
  payload : low `b` bits of each of the n values, concatenated as a
            little-endian bit stream, zero-padded to a byte boundary
  except. : n_exceptions × (lane_idx:uint8, remainder:LEB128-varint)
            where remainder = value >> b for lanes whose value needs
            more than `b` bits

  b = max(1, smallest width that covers all but the top
      floor(n * EXCEPTION_FRACTION) value widths)   — deterministic.

Doc-ID stream per block: d[0] = 0, d[i] = doc[i] − doc[i−1]; the block's
`first_doc` lives in plain metadata columns, so every block decodes
independently (required for WAND block skipping). tf and doc_len streams:
same packing, no delta. All numpy-vectorized; pure and Spark-free so the
same code runs inside Arrow batches and in the oracle/tests.
"""

from __future__ import annotations

import struct

import numpy as np

from elasticsearch_eslib_spark.config import BLOCK_SIZE, EXCEPTION_FRACTION

_HEADER = struct.Struct("<BBB")


def _write_varint(x: int, out: bytearray) -> None:
    while True:
        byte = x & 0x7F
        x >>= 7
        if x:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        byte = buf[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result, pos
        shift += 7


def _pack_low_bits(vals: np.ndarray, b: int) -> bytes:
    shifts = np.arange(b, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()

def _unpack_low_bits(data: bytes, n: int, b: int) -> np.ndarray:
    raw = np.frombuffer(data, dtype=np.uint8)
    bits = np.unpackbits(raw, count=n * b, bitorder="little")
    bits = bits.reshape(n, b).astype(np.uint64)
    shifts = np.arange(b, dtype=np.uint64)
    return (bits << shifts).sum(axis=1, dtype=np.uint64)


def _bit_widths(vals: np.ndarray) -> np.ndarray:
    """Exact per-value bit width (0 → 0) for uint64, fully vectorized.

    log2 via float64 is exact-safe only below 2^53, so the value splits
    into 32-bit halves first (each half < 2^32 is exactly representable;
    floor(log2(2^k)) == k holds in IEEE for exact powers)."""
    hi = (vals >> np.uint64(32)).astype(np.float64)
    lo = (vals & np.uint64(0xFFFFFFFF)).astype(np.float64)
    w = np.zeros(len(vals), dtype=np.int64)
    m = lo > 0
    if m.any():
        w[m] = np.floor(np.log2(lo[m])).astype(np.int64) + 1
    m = hi > 0
    if m.any():
        w[m] = np.floor(np.log2(hi[m])).astype(np.int64) + 33
    return w


# Below this many values the pure-Python encoder beats numpy's per-call
# overhead (Zipf vocabularies make 1-4-posting terms the majority of
# encode_stream calls); both paths emit byte-identical output.
_SMALL_N = 32


def _encode_small(vals: list[int]) -> bytes:
    """Pure-Python encode_stream for short streams — identical bytes:
    the packed payload is Σ (v_i & mask) << (i·b) in little-endian order,
    which is exactly numpy packbits(bitorder='little') of the bit matrix."""
    n = len(vals)
    widths = [v.bit_length() for v in vals]
    kth = n - 1 - int(n * EXCEPTION_FRACTION)
    b = max(1, sorted(widths)[kth])
    mask = (1 << b) - 1
    acc = 0
    shift = 0
    for v in vals:
        acc |= (v & mask) << shift
        shift += b
    out = bytearray(_HEADER.pack(b, sum(w > b for w in widths), n))
    out += acc.to_bytes((n * b + 7) // 8, "little")
    for i, v in enumerate(vals):
        if widths[i] > b:
            out.append(i)
            _write_varint(v >> b, out)
    return bytes(out)


def encode_stream(values: np.ndarray) -> bytes:
    """Encode one block's worth (n ≤ 255) of non-negative ints → bytes."""
    vals = np.asarray(values, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return _HEADER.pack(1, 0, 0)
    if n > 255:
        raise ValueError(f"block too large: {n}")
    if n <= _SMALL_N:
        return _encode_small([int(v) for v in vals])
    widths = _bit_widths(vals)
    allowed_exc = int(n * EXCEPTION_FRACTION)
    kth = n - 1 - allowed_exc
    b = int(max(1, np.partition(widths, kth)[kth]))
    payload = _pack_low_bits(vals, b)
    exc_lanes = np.nonzero(widths > b)[0]
    out = bytearray(_HEADER.pack(b, len(exc_lanes), n))
    out += payload
    for lane in exc_lanes:
        out.append(int(lane))
        _write_varint(int(vals[lane] >> np.uint64(b)), out)
    return bytes(out)


def decode_stream(data: bytes) -> np.ndarray:
    """Inverse of :func:`encode_stream` → uint64 array."""
    b, n_exc, n = _HEADER.unpack_from(data, 0)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    payload_bytes = (n * b + 7) // 8
    pos = _HEADER.size
    vals = _unpack_low_bits(data[pos:pos + payload_bytes], n, b)
    pos += payload_bytes
    for _ in range(n_exc):
        lane = data[pos]
        pos += 1
        remainder, pos = _read_varint(data, pos)
        vals[lane] |= np.uint64(remainder) << np.uint64(b)
    return vals


def encode_posting_blocks(doc_ids: np.ndarray, tfs: np.ndarray,
                          dls: np.ndarray,
                          block_size: int = BLOCK_SIZE) -> list[dict]:
    """Split one term's sorted postings into packed blocks.

    Returns dicts with keys: n_docs, first_doc, last_doc, block_max_tf,
    doc_deltas, tfs, dls (the caller adds term_id and the block-max bound —
    SURVEY.md E9).
    """
    if not (len(doc_ids) == len(tfs) == len(dls)):
        raise ValueError("posting stream length mismatch")
    if 0 < len(doc_ids) <= min(_SMALL_N, block_size):
        # single small block: stay in plain Python end-to-end (the numpy
        # conversions below cost more than the whole encode at this size).
        # Gated on block_size too — a caller asking for sub-_SMALL_N blocks
        # must get the block split (and per-block max metadata) it asked
        # for, not one silently-oversized block.
        d = [int(x) for x in doc_ids]
        t = [int(x) for x in tfs]
        dl = [int(x) for x in dls]
        deltas = [0] + [d[i] - d[i - 1] for i in range(1, len(d))]
        return [{
            "n_docs": len(d),
            "first_doc": d[0],
            "last_doc": d[-1],
            "block_max_tf": max(t),
            "doc_deltas": _encode_small(deltas),
            "tfs": _encode_small(t),
            "dls": _encode_small(dl),
        }]
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    blocks: list[dict] = []
    for start in range(0, len(doc_ids), block_size):
        docs = doc_ids[start:start + block_size]
        deltas = np.empty(len(docs), dtype=np.uint64)
        deltas[0] = 0
        if len(docs) > 1:
            deltas[1:] = np.diff(docs).astype(np.uint64)
        block_tfs = tfs[start:start + block_size]
        block_dls = dls[start:start + block_size]
        blocks.append({
            "n_docs": int(len(docs)),
            "first_doc": int(docs[0]),
            "last_doc": int(docs[-1]),
            "block_max_tf": int(block_tfs.max()),
            "doc_deltas": encode_stream(deltas),
            "tfs": encode_stream(block_tfs.astype(np.uint64)),
            "dls": encode_stream(block_dls.astype(np.uint64)),
        })
    return blocks


def decode_posting_block(first_doc: int, doc_deltas: bytes, tfs: bytes,
                         dls: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block → (doc_ids int64, tfs int64, dls int64)."""
    deltas = decode_stream(doc_deltas).astype(np.int64)
    doc_ids = first_doc + np.cumsum(deltas)
    return doc_ids, decode_stream(tfs).astype(np.int64), decode_stream(dls).astype(np.int64)
