"""Columnar codec parity: ``encode_batch`` / ``decode_batch`` /
``DDSketchBatch`` against the one-sketch ``encode_sketch`` /
``decode_sketch`` / ``DDSketch``, byte for byte and bit for bit, on a
randomized corpus that reaches every store encoding and edge the wire
format has."""

import math

import numpy as np
import pytest

from sketches_go_spark.core import encoding as enc
from sketches_go_spark.core.ddsketch import DDSketch, DDSketchBatch, DDSketchConfig

MAPPINGS = [
    DDSketchConfig(),
    DDSketchConfig(alpha=0.05, interpolation="linear"),
    DDSketchConfig(alpha=0.02, interpolation="cubic"),
]
COLLAPSING = [
    DDSketchConfig(max_bins=16, collapse="lowest"),
    DDSketchConfig(max_bins=5, collapse="highest"),
]
QS = [0.0, 0.01, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]


def batch_of(sketches: list[DDSketch]) -> DDSketchBatch:
    """Columnar copy of DDSketch objects."""
    mappings: list = []
    mapping_id = np.empty(len(sketches), dtype=np.int64)
    for g, s in enumerate(sketches):
        mid = next((i for i, m in enumerate(mappings) if m.equals(s.mapping)), None)
        if mid is None:
            mid = len(mappings)
            mappings.append(s.mapping)
        mapping_id[g] = mid
    stores = [(s.neg_idx, s.neg_cnt, s.pos_idx, s.pos_cnt) for s in sketches]
    return DDSketchBatch(
        offsets=np.cumsum([0] + [st[0].size + st[2].size for st in stores]).astype(np.int64),
        sign=np.concatenate(
            [np.empty(0, np.int8)]
            + [np.repeat(np.int8([-1, 1]), [st[0].size, st[2].size]) for st in stores]
        ),
        index=np.concatenate([np.empty(0, np.int64)] + [x for st in stores for x in (st[0], st[2])]),
        count=np.concatenate([np.empty(0)] + [x for st in stores for x in (st[1], st[3])]),
        zero_count=np.array([s.zero_count for s in sketches], dtype=np.float64),
        exact_count=np.array([s.exact_count for s in sketches], dtype=np.float64),
        exact_sum=np.array([s.sum for s in sketches], dtype=np.float64),
        exact_min=np.array([s.exact_min for s in sketches], dtype=np.float64),
        exact_max=np.array([s.exact_max for s in sketches], dtype=np.float64),
        mappings=mappings,
        mapping_id=mapping_id,
    )


def sketch_at(batch: DDSketchBatch, g: int) -> DDSketch:
    """Sketch ``g`` of a batch as a DDSketch object (no collapse applied)."""
    m = batch.mappings[batch.mapping_id[g]]
    s = DDSketch(
        config=DDSketchConfig(alpha=m.relative_accuracy(), interpolation=m.interpolation),
        mapping=m,
    )
    sl = slice(batch.offsets[g], batch.offsets[g + 1])
    sg, ix, ct = batch.sign[sl], batch.index[sl], batch.count[sl]
    s.neg_idx, s.neg_cnt = ix[sg < 0], ct[sg < 0]
    s.pos_idx, s.pos_cnt = ix[sg > 0], ct[sg > 0]
    s.zero_count = float(batch.zero_count[g])
    s.exact_count = float(batch.exact_count[g])
    s.exact_sum = float(batch.exact_sum[g])
    s.exact_min = float(batch.exact_min[g])
    s.exact_max = float(batch.exact_max[g])
    return s


def _values(rng, kind, n):
    if kind == "lognormal":
        return rng.lognormal(0, 3, n)
    if kind == "negative":
        return -rng.lognormal(0, 2, n)
    if kind == "zeros":
        return np.zeros(n)
    if kind == "mixed":
        return np.concatenate([rng.normal(0, 10, n), np.zeros(n // 5)])
    if kind == "repeats":  # few buckets, repeated: index-deltas store
        return rng.choice([1.0, 2.0, 3.0], n)
    if kind == "narrow":  # contiguous buckets: dense store
        return np.exp(rng.uniform(0, 0.5, n))
    return np.empty(0)


KINDS = ["lognormal", "negative", "zeros", "mixed", "repeats", "narrow", "empty"]


def _corpus(seed: int, n: int = 1500) -> list[DDSketch]:
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        cfg = MAPPINGS[i % len(MAPPINGS)]
        size = int(rng.integers(0, 3000 if rng.random() < 0.1 else 60))
        v = _values(rng, KINDS[i % len(KINDS)], size)
        r = rng.random()
        w = (
            rng.random(v.size) * 3 + 0.01  # fractional counts
            if r < 0.25
            else rng.integers(1, 5, v.size).astype(float) if r < 0.5 else None
        )
        s = DDSketch.from_values(v, w, config=cfg)
        if i % 23 == 0 and s.pos_idx.size:
            s.pos_idx = s.pos_idx + np.int64(1 << 58)  # 9-byte varints
        if i % 31 == 0:
            s.zero_count = float(rng.random() * 1e-3)  # 9-byte varfloat
        out.append(s)
    return out


@pytest.fixture(scope="module")
def corpus():
    return _corpus(17)


def decode_blobs(blobs, config=None) -> DDSketchBatch:
    """decode_batch over a list of bytes (None: a null row)."""
    valid = np.array([b is not None for b in blobs], dtype=bool)
    parts = [b or b"" for b in blobs]
    offsets = np.concatenate([[0], np.cumsum([len(b) for b in parts])]).astype(np.int64)
    return enc.decode_batch(np.frombuffer(b"".join(parts), np.uint8), offsets, valid, config)


def encode_blobs(batch: DDSketchBatch) -> list[bytes]:
    data, offsets = enc.encode_batch(batch)
    return [data[offsets[g]:offsets[g + 1]].tobytes() for g in range(batch.size)]


def _bits(x):
    return np.asarray(x, dtype=np.float64).view(np.int64)


def _store_encodings(s: DDSketch) -> set[int]:
    out = set()
    for idx, cnt in ((s.pos_idx, s.pos_cnt), (s.neg_idx, s.neg_cnt)):
        block = bytearray()
        enc._encode_store(block, enc.FLAG_TYPE_POSITIVE_STORE, idx, cnt)
        if block:
            out.add(block[0] >> 2)
    return out


def test_corpus_reaches_every_store_encoding(corpus):
    assert set().union(*map(_store_encodings, corpus)) == {
        enc.BIN_ENCODING_INDEX_DELTAS_AND_COUNTS,
        enc.BIN_ENCODING_INDEX_DELTAS,
        enc.BIN_ENCODING_CONTIGUOUS_COUNTS,
    }
    assert any(s.pos_idx.size and s.pos_idx[0] > 1 << 57 for s in corpus)
    assert any(s.is_empty for s in corpus)
    assert any(s.neg_idx.size and not s.pos_idx.size for s in corpus)


def test_encode_batch_matches_encode_sketch(corpus):
    blobs = encode_blobs(batch_of(corpus))
    assert blobs == [enc.encode_sketch(s) for s in corpus]


@pytest.mark.parametrize("cfg", COLLAPSING, ids=lambda c: c.collapse)
def test_encode_batch_collapsing_matches_apply_collapse(corpus, cfg):
    blobs = encode_blobs(batch_of(corpus).collapsed(cfg))
    want = []
    for s in corpus:
        t = s.copy()
        t.config = cfg
        t._apply_collapse()
        want.append(enc.encode_sketch(t))
    assert blobs == want


def _assert_same_sketch(got: DDSketch, ref: DDSketch):
    assert np.array_equal(got.pos_idx, ref.pos_idx)
    assert np.array_equal(got.neg_idx, ref.neg_idx)
    assert np.array_equal(_bits(got.pos_cnt), _bits(ref.pos_cnt))
    assert np.array_equal(_bits(got.neg_cnt), _bits(ref.neg_cnt))
    assert _bits(got.zero_count) == _bits(ref.zero_count)
    assert _bits(got.exact_count) == _bits(ref.exact_count)
    assert _bits(got.sum) == _bits(ref.sum)
    assert got.exact_min == ref.exact_min and got.exact_max == ref.exact_max
    assert got.mapping.equals(ref.mapping)


def test_decode_batch_matches_decode_sketch(corpus):
    blobs = [enc.encode_sketch(s) for s in corpus]
    for s in corpus[:150]:
        blobs.append(enc.encode_sketch(s) * 2)  # decode is merge
        blobs.append(enc.encode_sketch(s, include_exact_stats=False))  # foreign blob
    blobs.append(None)
    batch = decode_blobs(blobs)
    for g, blob in enumerate(blobs):
        if blob is None:
            assert batch.mapping_id[g] == -1 and batch.offsets[g] == batch.offsets[g + 1]
            continue
        _assert_same_sketch(sketch_at(batch, g), enc.decode_sketch(blob))


@pytest.mark.parametrize("cfg", COLLAPSING, ids=lambda c: c.collapse)
def test_decode_batch_with_collapsing_config(corpus, cfg):
    blobs = [enc.encode_sketch(s) for s in corpus]
    batch = decode_blobs(blobs, config=cfg)
    for g, blob in enumerate(blobs):
        _assert_same_sketch(sketch_at(batch, g), enc.decode_sketch(blob, config=cfg))


def test_decode_batch_errors():
    s = DDSketch.from_values([1.0, 2.0, -3.0])
    blob = enc.encode_sketch(s)
    with pytest.raises(enc.DecodingError):
        decode_blobs([enc.encode_sketch(s, omit_index_mapping=True)])
    with pytest.raises(enc.DecodingError):
        decode_blobs([blob[:-1]])  # truncated store
    with pytest.raises(enc.DecodingError):
        decode_blobs([blob + b"\x9f"])  # unknown flag


@pytest.mark.parametrize("clamp_exact", [False, True])
def test_batch_quantiles_equal_ddsketch_quantiles(corpus, clamp_exact):
    blobs = [enc.encode_sketch(s) for s in corpus] + [None]
    got = decode_blobs(blobs).quantiles(QS, clamp_exact=clamp_exact)
    assert np.isnan(got[-1]).all()  # a null blob
    checked = 0
    for g, blob in enumerate(blobs[:-1]):
        s = enc.decode_sketch(blob)
        if s.is_empty:
            assert np.isnan(got[g]).all()
            continue
        try:
            want = s.quantiles(QS, clamp_exact=clamp_exact)
        except IndexError:  # fractional total below 1: no rank fits a store
            continue
        assert np.array_equal(_bits(got[g]), _bits(want)), g
        checked += 1
    assert checked > 1000


def test_batch_quantiles_reject_bad_q(corpus):
    with pytest.raises(ValueError):
        batch_of(corpus[:3]).quantiles([1.5])


def test_merge_runs_matches_sequential_merge():
    """merge_runs = decode each partial, DDSketch.merge in order, encode —
    byte-identical for a non-collapsing config, Kahan sum included."""
    rng = np.random.default_rng(5)
    partials, runs = [], []
    for r in range(300):
        runs.append(len(partials))
        for _ in range(int(rng.integers(1, 6))):
            v = rng.lognormal(0, 2, int(rng.integers(0, 40))) * rng.choice([1, -1])
            partials.append(DDSketch.from_values(v, rng.random(v.size) + 0.5))
    blobs = [enc.encode_sketch(s) for s in partials]
    merged = decode_blobs(blobs).merge_runs(np.asarray(runs))
    bounds = runs + [len(partials)]
    want = []
    for a, b in zip(bounds, bounds[1:]):
        cur = enc.decode_sketch(blobs[a])
        for blob in blobs[a + 1:b]:
            cur.merge(enc.decode_sketch(blob))
        want.append(enc.encode_sketch(cur))
    assert encode_blobs(merged) == want


def test_merge_runs_collapse_is_order_independent():
    cfg = DDSketchConfig(max_bins=8, collapse="lowest")
    rng = np.random.default_rng(9)
    parts = [DDSketch.from_values(rng.lognormal(0, 2, 30), config=cfg) for _ in range(6)]
    blobs = [enc.encode_sketch(s) for s in parts]
    one = decode_blobs(blobs, cfg).merge_runs(np.array([0])).collapsed(cfg)
    rev = decode_blobs(blobs[::-1], cfg).merge_runs(np.array([0])).collapsed(cfg)
    a, b = sketch_at(one, 0), sketch_at(rev, 0)
    assert np.array_equal(a.pos_idx, b.pos_idx) and a.pos_idx.size <= 8
    assert np.allclose(a.pos_cnt, b.pos_cnt)
    assert a.pos_cnt.sum() == pytest.approx(sum(p.count for p in parts))
    assert a.pos_idx[-1] == max(p.pos_idx[-1] for p in parts)


def test_merge_runs_rejects_mixed_mappings():
    a = DDSketch.from_values([1.0, 2.0])
    b = DDSketch.from_values([1.0, 2.0], config=DDSketchConfig(alpha=0.05))
    batch = decode_blobs([enc.encode_sketch(a), enc.encode_sketch(b)])
    with pytest.raises(ValueError):
        batch.merge_runs(np.array([0]))
    assert batch.merge_runs(np.array([0, 1])).size == 2


def test_empty_batch_roundtrip():
    batch = batch_of([])
    data, offsets = enc.encode_batch(batch)
    assert data.size == 0 and offsets.tolist() == [0]
    assert enc.decode_batch(data, offsets).size == 0
    assert decode_blobs([]).quantiles(QS).shape == (0, len(QS))


def test_empty_sketch_exact_stats():
    blob = encode_blobs(batch_of([DDSketch()]))[0]
    assert blob == enc.encode_sketch(DDSketch())
    s = sketch_at(decode_blobs([blob]), 0)
    assert s.exact_count == 0 and s.exact_min == math.inf and s.exact_max == -math.inf
