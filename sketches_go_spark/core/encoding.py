"""Compact binary codec for DDSketch — flag-prefixed blocks with
uvarint / zigzag-varint / varfloat payloads.

Wire-format parity with the reference encoding (format re-implemented from its
documented grammar, no code copied):

- flag grammar (2-bit type + 6-bit subflag) and block layout:
  /root/reference/ddsketch/encoding/flag.go:32-128
- uvarint64 (LEB128, <=9 bytes, last byte carries 8 bits), zigzag varint64,
  float64LE, varfloat64 (rotate-by-6 MSB-first):
  /root/reference/ddsketch/encoding/encoding.go:36-208
- store encoding picks the cheaper of dense (contiguous counts) and sparse
  (index-deltas + counts): /root/reference/ddsketch/store/dense_store.go:278-311
- sketch framing and decode-is-merge loop: /root/reference/ddsketch/ddsketch.go:366-475
- exact-summary-statistics blocks: ddsketch.go:705-791

The codec is used for checkpoint files and compact shuffle of partial
sketches; it is byte-compatible with sketches-go's non-protobuf format.

``encode_sketch`` / ``decode_sketch`` work on one DDSketch object.
``encode_batch`` / ``decode_batch`` do the same for a whole
:class:`DDSketchBatch` with numpy, blob for blob identical to them: every
varint, varfloat and float64 of the batch is priced and written into (or
read out of) one ``uint8`` buffer.
"""

from __future__ import annotations

import math
import struct
from dataclasses import replace

import numpy as np

from sketches_go_spark.core.ddsketch import (
    DDSketch,
    DDSketchBatch,
    DDSketchConfig,
    _offsets,
    _segment_sums,
)
from sketches_go_spark.core.mapping import (
    _REL_TOL,
    CUBIC,
    LINEAR,
    LOGARITHMIC,
    _BaseMapping,
    mapping_from_params,
)

_MASK64 = (1 << 64) - 1
_MAX_VARLEN = 9
_VARFLOAT_ROTATE = 6
_ONE_BITS = struct.unpack("<Q", struct.pack("<d", 1.0))[0]

# ---------------------------------------------------------------------- flags
# flag byte = type (2 LSBs) | subflag (6 MSBs, stored shifted left by 2)
FLAG_TYPE_SKETCH_FEATURES = 0b00
FLAG_TYPE_POSITIVE_STORE = 0b01
FLAG_TYPE_INDEX_MAPPING = 0b10
FLAG_TYPE_NEGATIVE_STORE = 0b11


def _flag(ftype: int, subflag: int) -> int:
    return ftype | (subflag << 2)


FLAG_ZERO_COUNT = _flag(FLAG_TYPE_SKETCH_FEATURES, 1)
FLAG_COUNT = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x28)
FLAG_SUM = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x21)
FLAG_MIN = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x22)
FLAG_MAX = _flag(FLAG_TYPE_SKETCH_FEATURES, 0x23)

_MAPPING_SUBFLAGS = {LOGARITHMIC: 0, LINEAR: 1, CUBIC: 3}
_MAPPING_BY_SUBFLAG = {v: k for k, v in _MAPPING_SUBFLAGS.items()}

BIN_ENCODING_INDEX_DELTAS_AND_COUNTS = 1
BIN_ENCODING_INDEX_DELTAS = 2
BIN_ENCODING_CONTIGUOUS_COUNTS = 3


class DecodingError(ValueError):
    pass


# ------------------------------------------------------------------ varint IO
def encode_uvarint64(out: bytearray, v: int) -> None:
    v &= _MASK64
    for _ in range(_MAX_VARLEN - 1):
        if v < 0x80:
            break
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    else:
        out.append(v & 0xFF)
        return
    out.append(v)


def decode_uvarint64(b: memoryview, pos: int) -> tuple[int, int]:
    x = 0
    s = 0
    i = 0
    while True:
        if pos + i >= len(b):
            raise DecodingError("EOF in uvarint")
        n = b[pos + i]
        if n < 0x80 or i == _MAX_VARLEN - 1:
            return (x | (n << s)) & _MASK64, pos + i + 1
        x |= (n & 0x7F) << s
        s += 7
        i += 1


def encode_varint64(out: bytearray, v: int) -> None:
    # zigzag: (v >> 63) ^ (v << 1), arithmetic shift on the signed value
    encode_uvarint64(out, ((v >> 63) ^ (v << 1)) & _MASK64)


def decode_varint64(b: memoryview, pos: int) -> tuple[int, int]:
    u, pos = decode_uvarint64(b, pos)
    return (u >> 1) ^ -(u & 1), pos


def encode_float64le(out: bytearray, v: float) -> None:
    out += struct.pack("<d", v)


def decode_float64le(b: memoryview, pos: int) -> tuple[float, int]:
    if pos + 8 > len(b):
        raise DecodingError("EOF in float64")
    return struct.unpack_from("<d", b, pos)[0], pos + 8


def _rotl64(x: int, k: int) -> int:
    k %= 64
    return ((x << k) | (x >> (64 - k))) & _MASK64


def _float_bits(v: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def _bits_float(x: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", x & _MASK64))[0]


def encode_varfloat64(out: bytearray, v: float) -> None:
    """Space-efficient for small non-negative integer-valued floats
    (encoding.go:137-163): shift by +1 as float, subtract bits(1.0), rotate
    left 6, then emit 7 bits at a time starting from the MSB."""
    x = _rotl64((_float_bits(v + 1) - _ONE_BITS) & _MASK64, _VARFLOAT_ROTATE)
    for _ in range(_MAX_VARLEN - 1):
        n = (x >> (64 - 7)) & 0x7F
        x = (x << 7) & _MASK64
        if x == 0:
            out.append(n)
            return
        out.append(n | 0x80)
    out.append((x >> (64 - 8)) & 0xFF)


def decode_varfloat64(b: memoryview, pos: int) -> tuple[float, int]:
    x = 0
    i = 0
    s = 64 - 7
    while True:
        if pos + i >= len(b):
            raise DecodingError("EOF in varfloat")
        n = b[pos + i]
        if i == _MAX_VARLEN - 1:
            x |= n
            break
        if n < 0x80:
            x |= n << s
            break
        x |= (n & 0x7F) << s
        i += 1
        s -= 7
    v = _bits_float((_rotl64(x & _MASK64, 64 - _VARFLOAT_ROTATE) + _ONE_BITS) & _MASK64) - 1
    return v, pos + i + 1


def uvarint64_size(v: int) -> int:
    v &= _MASK64
    n = 1
    while v >= 0x80 and n < _MAX_VARLEN:
        v >>= 7
        n += 1
    return n


def varint64_size(v: int) -> int:
    return uvarint64_size(((v >> 63) ^ (v << 1)) & _MASK64)


def varfloat64_size(v: float) -> int:
    scratch = bytearray()
    encode_varfloat64(scratch, v)
    return len(scratch)


# -------------------------------------------------------------- store framing
def _encode_store(out: bytearray, ftype: int, idx: np.ndarray, cnt: np.ndarray) -> None:
    """Pick the cheapest of the three bin encodings (flag.go:88-127): sparse
    deltas+counts, dense contiguous counts (dense_store.go:278-311 size
    heuristic), or pure index-deltas — one varint per unit occurrence, the
    winner for the common all-counts-1 sketch."""
    if idx.size == 0:
        return
    lo, hi = int(idx[0]), int(idx[-1])
    span = hi - lo + 1

    sparse_size = uvarint64_size(idx.size)
    prev = lo
    for j in range(idx.size):
        sparse_size += varint64_size(int(idx[j]) - prev) + varfloat64_size(float(cnt[j]))
        prev = int(idx[j])

    # a dense frame spends >=1 byte per bucket in the span; don't even price
    # it when the span dwarfs the bin count
    dense_size = None
    dense = None
    if span <= 4 * idx.size + 64:
        dense = np.zeros(span, dtype=np.float64)
        dense[idx - lo] = cnt
        dense_size = (
            uvarint64_size(span) + varint64_size(lo) + varint64_size(1)
            + sum(varfloat64_size(float(c)) for c in dense)
        )

    # index-deltas: only valid for exactly-integral counts; each repeat of a
    # bucket beyond the first costs 1 byte (a zero delta), so only price it
    # when the total count stays close to the bin count
    deltas_size = None
    total = float(cnt.sum())
    if (
        total <= 2 * idx.size + 64
        and np.all(cnt == np.rint(cnt))
        and np.all(cnt >= 1)
    ):
        deltas_size = uvarint64_size(int(total))
        prev = 0
        for j in range(idx.size):
            deltas_size += varint64_size(int(idx[j]) - prev) + (int(cnt[j]) - 1)
            prev = int(idx[j])

    use_dense = dense_size is not None and dense_size <= sparse_size
    best = min(dense_size if use_dense else sparse_size, sparse_size)
    if deltas_size is not None and deltas_size < best:
        out.append(_flag(ftype, BIN_ENCODING_INDEX_DELTAS))
        encode_uvarint64(out, int(total))
        prev = 0
        for j in range(idx.size):
            encode_varint64(out, int(idx[j]) - prev)
            for _ in range(int(cnt[j]) - 1):
                encode_varint64(out, 0)
            prev = int(idx[j])
    elif use_dense:
        out.append(_flag(ftype, BIN_ENCODING_CONTIGUOUS_COUNTS))
        encode_uvarint64(out, span)
        encode_varint64(out, lo)
        encode_varint64(out, 1)
        for c in dense:
            encode_varfloat64(out, float(c))
    else:
        out.append(_flag(ftype, BIN_ENCODING_INDEX_DELTAS_AND_COUNTS))
        encode_uvarint64(out, idx.size)
        prev = 0
        for j in range(idx.size):
            encode_varint64(out, int(idx[j]) - prev)
            encode_varfloat64(out, float(cnt[j]))
            prev = int(idx[j])


def _decode_store_into(
    bins: dict[int, float], b: memoryview, pos: int, sub: int
) -> int:
    """Decode one store block, merging into ``bins``
    (store.go:90-153 three bin-encoding modes)."""
    if sub == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS:
        n, pos = decode_uvarint64(b, pos)
        index = 0
        for _ in range(n):
            d, pos = decode_varint64(b, pos)
            c, pos = decode_varfloat64(b, pos)
            index += d
            bins[index] = bins.get(index, 0.0) + c
    elif sub == BIN_ENCODING_INDEX_DELTAS:
        n, pos = decode_uvarint64(b, pos)
        index = 0
        for _ in range(n):
            d, pos = decode_varint64(b, pos)
            index += d
            bins[index] = bins.get(index, 0.0) + 1.0
    elif sub == BIN_ENCODING_CONTIGUOUS_COUNTS:
        n, pos = decode_uvarint64(b, pos)
        index, pos = decode_varint64(b, pos)
        delta, pos = decode_varint64(b, pos)
        for _ in range(n):
            c, pos = decode_varfloat64(b, pos)
            if c != 0:
                bins[index] = bins.get(index, 0.0) + c
            index += delta
    else:
        raise DecodingError(f"unknown bin encoding {sub}")
    return pos


# ------------------------------------------------------------- sketch framing
def encode_sketch(
    s: DDSketch, omit_index_mapping: bool = False, include_exact_stats: bool = True
) -> bytes:
    """Serialize a sketch (framing per ddsketch.go:370-382 + exact-stats
    blocks per ddsketch.go:705-760)."""
    out = bytearray()
    if s.zero_count != 0:
        out.append(FLAG_ZERO_COUNT)
        encode_varfloat64(out, s.zero_count)
    if not omit_index_mapping:
        out.append(_flag(FLAG_TYPE_INDEX_MAPPING, _MAPPING_SUBFLAGS[s.mapping.interpolation]))
        encode_float64le(out, s.mapping.gamma)
        encode_float64le(out, s.mapping.index_offset)
    if include_exact_stats:
        out.append(FLAG_COUNT)
        encode_varfloat64(out, s.exact_count)
        out.append(FLAG_SUM)
        encode_float64le(out, s.sum)
        out.append(FLAG_MIN)
        encode_float64le(out, s.exact_min)
        out.append(FLAG_MAX)
        encode_float64le(out, s.exact_max)
    _encode_store(out, FLAG_TYPE_POSITIVE_STORE, s.pos_idx, s.pos_cnt)
    _encode_store(out, FLAG_TYPE_NEGATIVE_STORE, s.neg_idx, s.neg_cnt)
    return bytes(out)


def decode_sketch(
    data: bytes,
    mapping: _BaseMapping | None = None,
    config: DDSketchConfig | None = None,
) -> DDSketch:
    """Decode a sketch blob. ``decode_and_merge`` semantics are obtained by
    merging the returned sketch (the flag loop itself is additive, matching
    ddsketch.go:415-475)."""
    pos_bins: dict[int, float] = {}
    neg_bins: dict[int, float] = {}
    zero_count = 0.0
    xcount = None
    xsum = None
    xmin = None
    xmax = None
    decoded_mapping = mapping

    b = memoryview(data)
    pos = 0
    while pos < len(b):
        flag = b[pos]
        pos += 1
        ftype = flag & 0b11
        sub = flag >> 2
        if ftype == FLAG_TYPE_POSITIVE_STORE:
            pos = _decode_store_into(pos_bins, b, pos, sub)
        elif ftype == FLAG_TYPE_NEGATIVE_STORE:
            pos = _decode_store_into(neg_bins, b, pos, sub)
        elif ftype == FLAG_TYPE_INDEX_MAPPING:
            if sub not in _MAPPING_BY_SUBFLAG:
                raise DecodingError(f"unsupported index mapping subflag {sub}")
            gamma, pos = decode_float64le(b, pos)
            offset, pos = decode_float64le(b, pos)
            m = mapping_from_params(_MAPPING_BY_SUBFLAG[sub], gamma, offset)
            if decoded_mapping is not None and not decoded_mapping.equals(m):
                raise DecodingError("index mapping mismatch")
            decoded_mapping = m
        elif flag == FLAG_ZERO_COUNT:
            z, pos = decode_varfloat64(b, pos)
            zero_count += z
        elif flag == FLAG_COUNT:
            v, pos = decode_varfloat64(b, pos)
            xcount = (xcount or 0.0) + v
        elif flag == FLAG_SUM:
            v, pos = decode_float64le(b, pos)
            xsum = (xsum or 0.0) + v
        elif flag == FLAG_MIN:
            v, pos = decode_float64le(b, pos)
            xmin = v if xmin is None else min(xmin, v)
        elif flag == FLAG_MAX:
            v, pos = decode_float64le(b, pos)
            xmax = v if xmax is None else max(xmax, v)
        else:
            raise DecodingError(f"unknown flag 0x{flag:02x}")

    if decoded_mapping is None:
        raise DecodingError("missing index mapping")

    cfg = config or DDSketchConfig(
        alpha=decoded_mapping.relative_accuracy(),
        interpolation=decoded_mapping.interpolation,
    )
    s = DDSketch(config=cfg, mapping=decoded_mapping)
    if pos_bins:
        items = sorted(pos_bins.items())
        s.pos_idx = np.asarray([i for i, _ in items], dtype=np.int64)
        s.pos_cnt = np.asarray([c for _, c in items], dtype=np.float64)
    if neg_bins:
        items = sorted(neg_bins.items())
        s.neg_idx = np.asarray([i for i, _ in items], dtype=np.int64)
        s.neg_cnt = np.asarray([c for _, c in items], dtype=np.float64)
    s.zero_count = zero_count
    s._apply_collapse()

    if xcount is not None:
        s.exact_count = xcount
        s.exact_sum = xsum if xsum is not None else s.sum_approx()
        s.exact_min = xmin if xmin is not None else (
            s.min_approx() if not s.is_empty else math.inf
        )
        s.exact_max = xmax if xmax is not None else (
            s.max_approx() if not s.is_empty else -math.inf
        )
    else:
        # blob without exact stats (plain reference DDSketch): fall back to
        # sketch-derived stats so the always-on summary stays usable
        s.exact_count = s.count
        if not s.is_empty:
            s.exact_sum = s.sum_approx()
            s.exact_min = s.min_approx()
            s.exact_max = s.max_approx()
    return s


# ---------------------------------------------------------------- batch codec
_U64 = np.uint64
_BYTE_IDX = np.arange(_MAX_VARLEN)
# room for a full varint window or a float64 read at the last byte
_PAD = np.zeros(_MAX_VARLEN + 8, dtype=np.uint8)


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    return (v.view(_U64) << _U64(1)) ^ (v >> 63).view(_U64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return (u >> _U64(1)).view(np.int64) ^ -(u & _U64(1)).view(np.int64)


def _uvarint_sizes(u: np.ndarray) -> np.ndarray:
    n = np.ones(u.shape, dtype=np.int64)
    for k in range(1, _MAX_VARLEN):
        n += u >= _U64(1 << (7 * k))
    return n


def _varfloat_bits(v: np.ndarray) -> np.ndarray:
    """The 64 bits encode_varfloat64 emits MSB-first."""
    b = (np.asarray(v, dtype=np.float64) + 1.0).view(_U64) - _U64(_ONE_BITS)
    return (b << _U64(_VARFLOAT_ROTATE)) | (b >> _U64(64 - _VARFLOAT_ROTATE))


def _varfloat_sizes(x: np.ndarray) -> np.ndarray:
    """7 bits per byte from the MSB until only zero bits remain: one byte
    per started 7 bits above the trailing zeros, 9 at most."""
    low = x & (~x + _U64(1))
    trailing = np.frexp(low.astype(np.float64))[1] - 1
    return np.where(x == 0, 1, np.minimum((70 - trailing) // 7, _MAX_VARLEN))


def _put_uvarint(buf: np.ndarray, pos: np.ndarray, u: np.ndarray, size: np.ndarray) -> None:
    for k in range(_MAX_VARLEN):
        m = size > k
        if not m.any():
            return
        if k < _MAX_VARLEN - 1:
            b = (u[m] >> _U64(7 * k)) & _U64(0x7F)
            b |= np.where(size[m] > k + 1, _U64(0x80), _U64(0))
        else:
            b = u[m] >> _U64(56)
        buf[pos[m] + k] = b.astype(np.uint8)


def _put_varfloat(buf: np.ndarray, pos: np.ndarray, x: np.ndarray, size: np.ndarray) -> None:
    for k in range(_MAX_VARLEN):
        m = size > k
        if not m.any():
            return
        if k < _MAX_VARLEN - 1:
            b = (x[m] >> _U64(57 - 7 * k)) & _U64(0x7F)
            b |= np.where(size[m] > k + 1, _U64(0x80), _U64(0))
        else:
            b = x[m] & _U64(0xFF)
        buf[pos[m] + k] = b.astype(np.uint8)


def _put_float64(buf: np.ndarray, pos: np.ndarray, v: np.ndarray) -> None:
    buf[pos[:, None] + np.arange(8)] = (
        np.asarray(v, dtype="<f8").view(np.uint8).reshape(-1, 8)
    )


def encode_batch(batch: DDSketchBatch) -> tuple[np.ndarray, np.ndarray]:
    """Serialize every sketch of ``batch`` into one ``uint8`` buffer.

    Returns ``(data, offsets)``: blob ``g`` is ``data[offsets[g]:offsets[g+1]]``,
    byte-identical to ``encode_sketch`` of the DDSketch holding sketch
    ``g``'s bins, zero count, exact stats and index mapping.  Each store is
    priced for the three encodings with segment sums, the same way
    ``_encode_store`` prices one store.
    Bucket indexes must differ by less than 2**63 within a store (any
    mapping's int32 range does)."""
    n_groups = batch.size
    idx, cnt = batch.index, batch.count
    nb = idx.size
    group = np.repeat(np.arange(n_groups), np.diff(batch.offsets))

    # -- stores: one segment per non-empty (sketch, sign)
    first = np.ones(nb, dtype=bool)
    first[1:] = (group[1:] != group[:-1]) | (batch.sign[1:] != batch.sign[:-1])
    seg = np.cumsum(first) - 1
    seg_start = np.flatnonzero(first)
    seg_n = np.diff(np.append(seg_start, nb))
    n_seg = seg_start.size

    def seg_sum(x: np.ndarray) -> np.ndarray:
        cs = np.concatenate([[0], np.cumsum(x)])
        return cs[seg_start + seg_n] - cs[seg_start]

    def within(x: np.ndarray) -> np.ndarray:  # exclusive in-segment cumsum
        cs = np.concatenate([[0], np.cumsum(x)])
        return cs[:-1] - cs[seg_start][seg]

    prev = np.concatenate([[0], idx[:-1]]) if nb else idx
    delta = np.where(first, idx, idx - prev)  # as written: prev starts at 0
    zz = _zigzag(delta)
    zs = _uvarint_sizes(zz)
    # _encode_store prices the sparse form with prev starting at lo
    zs_price = np.where(first, 1, zs)
    fx = _varfloat_bits(cnt)
    fs = _varfloat_sizes(fx)

    lo = idx[seg_start]
    span = idx[seg_start + seg_n - 1] - lo + 1
    span_u = span.astype(_U64)
    lo_zz = _zigzag(lo)
    total = np.bincount(seg, weights=cnt, minlength=n_seg)
    n_u = seg_n.astype(_U64)

    # header + body bytes of each encoding, priced as _encode_store does
    sparse_body = seg_sum(zs + fs)
    sparse = _uvarint_sizes(n_u) + seg_sum(zs_price + fs)
    dense_ok = span <= 4 * seg_n + 64
    dense_hdr = _uvarint_sizes(span_u) + _uvarint_sizes(lo_zz) + 1
    dense_body = (span - seg_n) + seg_sum(fs)
    dense = dense_hdr + dense_body
    integral = seg_sum((cnt != np.rint(cnt)) | (cnt < 1)) == 0
    deltas_ok = integral & (total <= 2 * seg_n + 64)
    total_u = np.where(deltas_ok, total, 0).astype(_U64)
    repeats = np.where(deltas_ok[seg], cnt, 1).astype(np.int64) - 1
    deltas_body = seg_sum(zs + repeats)
    deltas = _uvarint_sizes(total_u) + deltas_body

    use_dense = dense_ok & (dense <= sparse)
    use_deltas = deltas_ok & (deltas < np.where(use_dense, dense, sparse))
    use_dense &= ~use_deltas
    use_sparse = ~(use_dense | use_deltas)
    enc = np.where(
        use_deltas,
        BIN_ENCODING_INDEX_DELTAS,
        np.where(use_dense, BIN_ENCODING_CONTIGUOUS_COUNTS, BIN_ENCODING_INDEX_DELTAS_AND_COUNTS),
    )
    header = np.where(
        use_deltas, _uvarint_sizes(total_u), np.where(use_dense, dense_hdr, _uvarint_sizes(n_u))
    )
    body = np.where(use_deltas, deltas_body, np.where(use_dense, dense_body, sparse_body))
    # each bin's byte offset in its store body (dense: one 0x00 byte per
    # empty bucket before it)
    e = enc[seg]
    bin_off = np.where(
        e == BIN_ENCODING_INDEX_DELTAS,
        within(zs + repeats),
        np.where(
            e == BIN_ENCODING_CONTIGUOUS_COUNTS,
            idx - lo[seg] - (np.arange(nb) - seg_start[seg]) + within(fs),
            within(zs + fs),
        ),
    )
    seg_bytes = 1 + header + body
    seg_group = group[seg_start]
    seg_pos = batch.sign[seg_start] > 0
    pos_bytes = np.bincount(seg_group[seg_pos], weights=seg_bytes[seg_pos], minlength=n_groups)
    neg_bytes = np.bincount(seg_group[~seg_pos], weights=seg_bytes[~seg_pos], minlength=n_groups)

    # -- per-sketch header: [zero count] mapping count sum min max
    zx = _varfloat_bits(batch.zero_count)
    has_zero = batch.zero_count != 0
    zsz = np.where(has_zero, 1 + _varfloat_sizes(zx), 0)
    cx = _varfloat_bits(batch.exact_count)
    csz = _varfloat_sizes(cx)
    head = zsz + 17 + 1 + csz + 27
    sizes = head + pos_bytes.astype(np.int64) + neg_bytes.astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int64)
    buf = np.zeros(offsets[-1], dtype=np.uint8)
    gs = offsets[:-1]

    zg = np.flatnonzero(has_zero)
    buf[gs[zg]] = FLAG_ZERO_COUNT
    _put_varfloat(buf, gs[zg] + 1, zx[zg], zsz[zg] - 1)
    table = np.zeros((max(len(batch.mappings), 1), 17), dtype=np.uint8)
    for i, m in enumerate(batch.mappings):
        block = bytearray([_flag(FLAG_TYPE_INDEX_MAPPING, _MAPPING_SUBFLAGS[m.interpolation])])
        encode_float64le(block, m.gamma)
        encode_float64le(block, m.index_offset)
        table[i] = np.frombuffer(bytes(block), dtype=np.uint8)
    m0 = gs + zsz
    buf[m0[:, None] + np.arange(17)] = table[batch.mapping_id]
    s0 = m0 + 17
    buf[s0] = FLAG_COUNT
    _put_varfloat(buf, s0 + 1, cx, csz)
    p = s0 + 1 + csz
    for k, (flag, v) in enumerate(
        ((FLAG_SUM, batch.exact_sum), (FLAG_MIN, batch.exact_min), (FLAG_MAX, batch.exact_max))
    ):
        buf[p + 9 * k] = flag
        _put_float64(buf, p + 9 * k + 1, v)

    # -- stores: positive first, then negative (encode_sketch's order)
    store_at = gs[seg_group] + head[seg_group] + np.where(seg_pos, 0, pos_bytes[seg_group]).astype(np.int64)
    buf[store_at] = np.where(seg_pos, FLAG_TYPE_POSITIVE_STORE, FLAG_TYPE_NEGATIVE_STORE) | (enc << 2)
    h = store_at + 1
    for m, u in ((use_sparse, n_u), (use_deltas, total_u), (use_dense, span_u)):
        _put_uvarint(buf, h[m], u[m], _uvarint_sizes(u[m]))
    d = use_dense
    lo_at = h[d] + _uvarint_sizes(span_u[d])
    _put_uvarint(buf, lo_at, lo_zz[d], _uvarint_sizes(lo_zz[d]))
    buf[lo_at + _uvarint_sizes(lo_zz[d])] = 2  # varint(1): the index step
    at = (h + header)[seg] + bin_off
    with_delta = e != BIN_ENCODING_CONTIGUOUS_COUNTS
    _put_uvarint(buf, at[with_delta], zz[with_delta], zs[with_delta])
    with_count = e != BIN_ENCODING_INDEX_DELTAS
    _put_varfloat(
        buf, at[with_count] + np.where(with_delta, zs, 0)[with_count], fx[with_count], fs[with_count]
    )
    return buf, offsets


def _windows(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The 9-byte window at each position and the length of the varint or
    varfloat starting there: both end at the first byte < 0x80 or at
    their 9th byte."""
    w = buf[pos[:, None] + _BYTE_IDX].astype(_U64)
    ends = w < 0x80
    ends[:, -1] = True
    return w, np.argmax(ends, axis=1) + 1


def _read_uvarints(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One uvarint at each position: (values, positions after them)."""
    w, n = _windows(buf, pos)
    return _varint_values(w, n), pos + n


def _varint_values(w: np.ndarray, n: np.ndarray) -> np.ndarray:
    """uvarints from byte windows ``w`` (one row per token, ``n`` bytes
    used): 7 bits per byte LSB-first, the 9th byte whole."""
    u = np.zeros(n.size, dtype=_U64)
    for k in range(w.shape[1]):
        part = w[:, k] << _U64(56) if k == _MAX_VARLEN - 1 else (w[:, k] & _U64(0x7F)) << _U64(7 * k)
        u |= np.where(n > k, part, _U64(0))
    return u


def _varfloat_values(w: np.ndarray, n: np.ndarray) -> np.ndarray:
    """varfloats from byte windows: 7 bits per byte MSB-first, the 9th
    byte whole, then decode_varfloat64's rotate and shift."""
    x = np.zeros(n.size, dtype=_U64)
    for k in range(w.shape[1]):
        part = w[:, k] if k == _MAX_VARLEN - 1 else (w[:, k] & _U64(0x7F)) << _U64(57 - 7 * k)
        x |= np.where(n > k, part, _U64(0))
    rot = (x << _U64(64 - _VARFLOAT_ROTATE)) | (x >> _U64(_VARFLOAT_ROTATE))
    return (rot + _U64(_ONE_BITS)).view(np.float64) - 1.0


def _read_varfloats(buf: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    w, n = _windows(buf, pos)
    return _varfloat_values(w, n), pos + n


def _read_float64(buf: np.ndarray, pos: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(buf[pos[:, None] + np.arange(8)]).view("<f8").ravel()


def _tokens(
    buf: np.ndarray, start: np.ndarray, end: np.ndarray, want: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The first ``want[i]`` varint/varfloat tokens of each byte range
    ``[start[i], end[i])``: (owner range, rank in it, first byte, length).

    Both token kinds end at the first byte < 0x80 or at their 9th byte, so
    in a run of continuation bytes counted from the range start or the last
    terminator, every 9th byte ends a token too."""
    lens = end - start
    n = int(lens.sum())
    owner = np.repeat(np.arange(start.size), lens)
    range_at = np.concatenate([[0], np.cumsum(lens)])[:-1]
    j = np.arange(n)
    at = start[owner] + (j - range_at[owner])
    term = buf[at] < 0x80
    reset = np.zeros(n, dtype=bool)
    reset[1:] = term[:-1]
    reset[range_at[lens > 0]] = True
    run_pos = j - np.maximum.accumulate(np.where(reset, j, 0))
    ends = np.flatnonzero(term | (run_pos % _MAX_VARLEN == _MAX_VARLEN - 1))
    end_owner = owner[ends]
    rank = np.arange(ends.size) - np.searchsorted(end_owner, np.arange(start.size))[end_owner]
    keep = rank < want[end_owner]
    ends, end_owner, rank = ends[keep], end_owner[keep], rank[keep]
    if np.any(np.bincount(end_owner, minlength=start.size) < want):
        raise DecodingError("EOF in store")
    first = np.where(rank == 0, range_at[end_owner], np.concatenate([[0], ends[:-1] + 1]))
    return end_owner, rank, at[first], ends - first + 1


def _decode_stores(buf, rows, pos, sub, end, sign, bins) -> np.ndarray:
    """Decode one store block per row (``pos`` just past its flag), append
    ``(row, sign, index, count)`` entries to ``bins``; returns the positions
    after the blocks."""
    out = np.empty_like(pos)
    for enc in np.unique(sub):
        m = sub == enc
        r, p, e = rows[m], pos[m], end[m]
        n, p = _read_uvarints(buf, p)
        if enc == BIN_ENCODING_CONTIGUOUS_COUNTS:
            lo, p = _read_uvarints(buf, p)
            step, p = _read_uvarints(buf, p)
        elif enc not in (BIN_ENCODING_INDEX_DELTAS_AND_COUNTS, BIN_ENCODING_INDEX_DELTAS):
            raise DecodingError(f"unknown bin encoding {enc}")
        if np.any(p > e):
            raise DecodingError("EOF in store header")
        if np.any(n > (e - p).astype(_U64)):
            raise DecodingError("EOF in store")
        want = (2 if enc == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS else 1) * n.astype(np.int64)
        owner, rank, tstart, tlen = _tokens(buf, p, e, want)
        last = rank == want[owner] - 1
        p[owner[last]] = tstart[last] + tlen[last]
        out[m] = p
        w = buf[tstart[:, None] + _BYTE_IDX[: max(tlen.max(initial=1), 1)]].astype(_U64)
        if enc == BIN_ENCODING_CONTIGUOUS_COUNTS:
            index = _unzigzag(lo)[owner] + rank * _unzigzag(step)[owner]
            count = _varfloat_values(w, tlen)
            keep = count != 0
            owner, index, count = owner[keep], index[keep], count[keep]
        else:
            is_delta = rank % 2 == 0 if enc == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS else rank >= 0
            d = _unzigzag(_varint_values(w[is_delta], tlen[is_delta]))
            owner = owner[is_delta]
            # index = running sum of the deltas within each store
            cs = np.cumsum(d)
            head = np.flatnonzero(np.diff(owner, prepend=-1))
            index = cs - np.repeat((cs - d)[head], np.diff(np.append(head, owner.size)))
            if enc == BIN_ENCODING_INDEX_DELTAS_AND_COUNTS:
                count = _varfloat_values(w[~is_delta], tlen[~is_delta])
            else:
                count = np.ones(index.size)
        bins.append((r[owner], np.full(owner.size, sign, dtype=np.int8), index, count))
    return out


def decode_batch(
    data: np.ndarray,
    offsets: np.ndarray,
    valid: np.ndarray | None = None,
    config: DDSketchConfig | None = None,
) -> DDSketchBatch:
    """Decode the blobs ``data[offsets[g]:offsets[g+1]]`` into one batch.

    Sketch ``g`` equals ``decode_sketch(blob_g, config=config)``: the same
    additive flag loop (repeated blocks merge, bin counts summed in the
    order they appear), collapse under ``config`` and exact-stat fallbacks.
    Rows with ``valid`` False (null blobs) decode as empty sketches with
    ``mapping_id`` -1.  All blobs are parsed in lockstep, one block per
    blob per step, so the Python loop takes as many steps as the longest
    blob has blocks, not one per blob or per bin."""
    n = offsets.size - 1
    buf = np.concatenate([np.asarray(data, dtype=np.uint8), _PAD])
    start = np.asarray(offsets[:-1], dtype=np.int64)
    end = np.asarray(offsets[1:], dtype=np.int64)
    valid = np.ones(n, dtype=bool) if valid is None else np.asarray(valid, dtype=bool)
    cur = start.copy()
    zero = np.zeros(n)
    stats = {f: np.zeros(n) for f in (FLAG_COUNT, FLAG_SUM)}
    stats[FLAG_MIN] = np.full(n, math.inf)
    stats[FLAG_MAX] = np.full(n, -math.inf)
    seen = {f: np.zeros(n, dtype=bool) for f in stats}
    mapping = np.full((n, 3), np.nan)  # subflag, gamma, offset
    bins: list = []

    active = np.flatnonzero(valid & (cur < end))
    while active.size:
        r = active
        c = cur[r]
        flag = buf[c]
        ftype = flag & 0b11
        sub = (flag >> 2).astype(np.int64)
        nxt = c + 1
        for ft, sign in ((FLAG_TYPE_POSITIVE_STORE, 1), (FLAG_TYPE_NEGATIVE_STORE, -1)):
            m = ftype == ft
            if m.any():
                nxt[m] = _decode_stores(buf, r[m], c[m] + 1, sub[m], end[r[m]], sign, bins)
        m = ftype == FLAG_TYPE_INDEX_MAPPING
        if m.any():
            if not np.isin(sub[m], list(_MAPPING_BY_SUBFLAG)).all():
                raise DecodingError("unsupported index mapping subflag")
            rm = r[m]
            params = np.column_stack(
                [sub[m], _read_float64(buf, c[m] + 1), _read_float64(buf, c[m] + 9)]
            )
            old = mapping[rm]
            again = ~np.isnan(old[:, 0])
            if again.any():
                a, b = old[again], params[again]
                same = (a[:, 0] == b[:, 0]) & _close(a[:, 1], b[:, 1]) & _close(a[:, 2], b[:, 2])
                if not same.all():
                    raise DecodingError("index mapping mismatch")
            mapping[rm] = params
            nxt[m] = c[m] + 17
        m = flag == FLAG_ZERO_COUNT
        if m.any():
            v, nxt[m] = _read_varfloats(buf, c[m] + 1)
            zero[r[m]] += v
        for f in stats:
            m = flag == f
            if not m.any():
                continue
            rm = r[m]
            if f == FLAG_COUNT:
                v, nxt[m] = _read_varfloats(buf, c[m] + 1)
            else:
                v, nxt[m] = _read_float64(buf, c[m] + 1), c[m] + 9
            x = stats[f][rm]
            if f == FLAG_MIN:
                stats[f][rm] = np.where(seen[f][rm] & ~(v < x), x, v)
            elif f == FLAG_MAX:
                stats[f][rm] = np.where(seen[f][rm] & ~(v > x), x, v)
            else:
                stats[f][rm] = x + v
            seen[f][rm] = True
        known = (ftype != 0) | np.isin(flag, [FLAG_ZERO_COUNT, *stats])
        if not known.all():
            raise DecodingError(f"unknown flag 0x{int(flag[~known][0]):02x}")
        if np.any(nxt > end[r]):
            raise DecodingError("EOF")
        cur[r] = nxt
        active = r[nxt < end[r]]

    if np.isnan(mapping[valid, 0]).any():
        raise DecodingError("missing index mapping")
    batch = _batch_from_entries(bins, n, zero, mapping, valid)
    if config is not None:
        batch = batch.collapsed(config)
    return _with_decoded_stats(batch, stats, seen, valid)


def _close(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """mapping._within_tolerance, vectorized."""
    ax, ay = np.abs(x), np.abs(y)
    either_zero = (x == 0) | (y == 0)
    return np.where(
        either_zero,
        (ax <= _REL_TOL) & (ay <= _REL_TOL),
        np.abs(x - y) <= _REL_TOL * np.maximum(ax, ay),
    )


def _batch_from_entries(bins, n, zero, mapping, valid) -> DDSketchBatch:
    """Sum the decoded (row, sign, index, count) entries per bin, in the
    order they were read (decode_sketch's dict accumulation)."""
    if bins:
        row, sign, index, count = (np.concatenate(x) for x in zip(*bins))
    else:
        row, sign, index, count = (
            np.empty(0, np.int64), np.empty(0, np.int8), np.empty(0, np.int64), np.empty(0)
        )
    store = 2 * row + (sign > 0)
    order = np.argsort(store, kind="stable")
    same = store[order][1:] == store[order][:-1]
    if np.any(same & (index[order][1:] < index[order][:-1])):
        # a store whose indexes go back (repeated blocks, foreign
        # encoders): sort by index too, still stable
        order = np.lexsort((index, store))
    row, sign, index = row[order], sign[order], index[order]
    new = np.ones(row.size, dtype=bool)
    new[1:] = (row[1:] != row[:-1]) | (sign[1:] != sign[:-1]) | (index[1:] != index[:-1])
    heads = np.flatnonzero(new)

    mapping_id = np.full(n, -1, dtype=np.int64)
    mappings: list = []
    if valid.any():
        params, inv = np.unique(mapping[valid], axis=0, return_inverse=True)
        ids = []
        for sub, gamma, offset in params:
            m = mapping_from_params(_MAPPING_BY_SUBFLAG[int(sub)], gamma, offset)
            same = next((i for i, k in enumerate(mappings) if k.equals(m)), None)
            if same is None:
                same = len(mappings)
                mappings.append(m)
            ids.append(same)
        mapping_id[valid] = np.asarray(ids)[inv.ravel()]
    return DDSketchBatch(
        offsets=_offsets(row[heads], n),
        sign=sign[heads],
        index=index[heads],
        count=np.bincount(np.cumsum(new) - 1, weights=count[order]),
        zero_count=zero,
        exact_count=np.zeros(n),
        exact_sum=np.zeros(n),
        exact_min=np.full(n, math.inf),
        exact_max=np.full(n, -math.inf),
        mappings=mappings,
        mapping_id=mapping_id,
    )


def _bin_values(batch: DDSketchBatch, rows: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Representative value of the bin at ``pos`` of sketch ``rows`` (-1: NaN)."""
    out = np.full(pos.size, np.nan)
    for i, m in enumerate(batch.mappings):
        sel = (batch.mapping_id[rows] == i) & (pos >= 0)
        with np.errstate(over="ignore"):  # only used where the blob lacks stats
            out[sel] = m.value(batch.index[pos[sel]])
    return out


def _with_decoded_stats(batch, stats, seen, valid) -> DDSketchBatch:
    """decode_sketch's exact stats: the blob's own when it carries a count
    block, else (or per missing block) the ones the bins imply."""
    neg_start, n_neg, pos_start, n_pos = batch.stores()
    total = (
        batch.zero_count
        + _segment_sums(batch.count, pos_start, n_pos)
        + _segment_sums(batch.count, neg_start, n_neg)
    )
    nonempty = total != 0
    has_count = seen[FLAG_COUNT]
    zero_pos = batch.zero_count > 0
    neg_last = np.where(n_neg > 0, neg_start + n_neg - 1, -1)
    neg_first = np.where(n_neg > 0, neg_start, -1)
    pos_first = np.where(n_pos > 0, pos_start, -1)
    pos_last = np.where(n_pos > 0, pos_start + n_pos - 1, -1)
    rows = np.arange(batch.size)
    min_approx = np.where(
        n_neg > 0,
        -_bin_values(batch, rows, neg_last),
        np.where(zero_pos, 0.0, _bin_values(batch, rows, pos_first)),
    )
    max_approx = np.where(
        n_pos > 0,
        _bin_values(batch, rows, pos_last),
        np.where(zero_pos, 0.0, -_bin_values(batch, rows, neg_first)),
    )
    # DDSketch.sum_approx where the blob lacks a sum: 0.0 + pos - neg,
    # each a pairwise sum of value * count
    need = valid & np.where(has_count, ~seen[FLAG_SUM], nonempty)
    group = np.repeat(rows, np.diff(batch.offsets))
    weighted = np.zeros(batch.index.size)
    on = np.flatnonzero(need[group])
    weighted[on] = _bin_values(batch, group[on], on) * batch.count[on]
    sum_approx = (
        0.0
        + _segment_sums(weighted, pos_start, np.where(need, n_pos, 0))
        - _segment_sums(weighted, neg_start, np.where(need, n_neg, 0))
    )
    exact_sum = np.where(need, sum_approx, np.where(has_count, stats[FLAG_SUM], 0.0))
    return replace(
        batch,
        exact_count=np.where(has_count, stats[FLAG_COUNT], total),
        exact_sum=exact_sum,
        exact_min=np.where(
            has_count & seen[FLAG_MIN], stats[FLAG_MIN], np.where(nonempty, min_approx, math.inf)
        ),
        exact_max=np.where(
            has_count & seen[FLAG_MAX], stats[FLAG_MAX], np.where(nonempty, max_approx, -math.inf)
        ),
    )

