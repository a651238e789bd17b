"""Companion sketches: error bounds per published formulas, merge semantics,
serde round-trips.  HLL: sigma=1.04/sqrt(m); CMS: overshoot <= eps*N w.h.p.,
never undershoot; Bloom: no false negatives, FPR near (1-e^{-kn/m})^k;
KLL: additive rank error; t-digest: tail-accurate rank error."""

import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.bloom import BloomFilter, optimal_k
from sketches_go_spark.core.cms import CountMinSketch
from sketches_go_spark.core.hashing import bit_length_u64, portable_hash64_np
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLBatch, KLLSketch
from sketches_go_spark.core.tdigest import TDigest

RNG = np.random.default_rng(5)


def test_bit_length_exact():
    vals = np.concatenate(
        [
            np.asarray([0, 1, 2, 3, 4, 7, 8, 255, 256], dtype=np.int64),
            (np.int64(1) << np.arange(1, 60)),
            (np.int64(1) << np.arange(1, 60)) - 1,
        ]
    )
    expect = np.asarray([int(v).bit_length() for v in vals])
    assert np.array_equal(bit_length_u64(vals), expect)


@pytest.mark.parametrize("true_n", [100, 5000, 200000])
def test_hll_error_bound(true_n):
    p = 12
    items = [f"item-{i}" for i in range(true_n)]
    h = portable_hash64_np(items)
    hll = HyperLogLog(p).add_hashes(h)
    est = hll.estimate()
    sigma = HyperLogLog.relative_standard_error(p)
    assert abs(est - true_n) / true_n <= 4 * sigma  # 4-sigma envelope


def test_hll_merge_equals_union_and_idempotent():
    a_items = portable_hash64_np([f"a{i}" for i in range(3000)])
    b_items = portable_hash64_np([f"b{i}" for i in range(2000)])
    a = HyperLogLog(10).add_hashes(a_items)
    b = HyperLogLog(10).add_hashes(b_items)
    u = HyperLogLog(10).add_hashes(np.concatenate([a_items, b_items]))
    m = HyperLogLog(10).merge(a).merge(b)
    assert np.array_equal(m.registers, u.registers)
    # merging the same sketch twice changes nothing (max is idempotent)
    m2 = HyperLogLog(10).merge(a).merge(a)
    assert np.array_equal(m2.registers, a.registers)
    with pytest.raises(ValueError):
        a.merge(HyperLogLog(12))
    rt = HyperLogLog.from_bytes(m.to_bytes())
    assert np.array_equal(rt.registers, m.registers)


def test_cms_bounds():
    items = RNG.zipf(1.5, 20000).astype(str)
    uniq, true_counts = np.unique(items, return_counts=True)
    cms = CountMinSketch(depth=4, width=512)
    cms.add(items)
    est = cms.estimate(uniq)
    # never undershoots
    assert np.all(est >= true_counts)
    # overshoot bounded by eps*N for the vast majority (w.p. 1-e^-d per item)
    overshoot = est - true_counts
    n = len(items)
    frac_bad = np.mean(overshoot > cms.epsilon * n)
    assert frac_bad <= 0.05
    # merge = add tables
    half1, half2 = items[: n // 2], items[n // 2 :]
    merged = CountMinSketch(4, 512).add(half1).merge(CountMinSketch(4, 512).add(half2))
    assert np.array_equal(merged.table, cms.table)
    rt = CountMinSketch.from_bytes(cms.to_bytes())
    assert np.array_equal(rt.table, cms.table)


def test_bloom_no_false_negatives_and_fpr():
    n = 500
    m = 8192
    k = optimal_k(m, n)
    members = [f"member-{i}" for i in range(n)]
    bf = BloomFilter(m, k).add(members)
    assert bf.might_contain(members).all()
    probes = [f"absent-{i}" for i in range(5000)]
    fpr = bf.might_contain(probes).mean()
    assert fpr <= 3 * bf.expected_fpr(n) + 0.01
    # merge = OR
    b1 = BloomFilter(m, k).add(members[: n // 2])
    b2 = BloomFilter(m, k).add(members[n // 2 :])
    assert np.array_equal(b1.merge(b2).bits, bf.bits)
    rt = BloomFilter.from_bytes(bf.to_bytes())
    assert np.array_equal(rt.bits, bf.bits)


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "sorted"])
def test_kll_rank_error(dist):
    n = 50000
    if dist == "uniform":
        values = RNG.uniform(0, 1, n)
    elif dist == "lognormal":
        values = RNG.lognormal(0, 2, n)
    else:
        values = np.arange(n, dtype=np.float64)
    k = 200
    sk = KLLSketch(k)
    for chunk in np.array_split(values, 10):
        sk.add(chunk)
    sv = np.sort(values)
    for q in [0.01, 0.1, 0.5, 0.9, 0.99]:
        est = sk.quantile(q)
        true_rank = np.searchsorted(sv, est) / n
        assert abs(true_rank - q) <= 4 * sk.epsilon
    # extremes exact (tracked min/max)
    assert sk.quantile(0.0) >= values.min()
    assert sk.quantile(1.0) <= values.max()


def test_kll_merge_and_serde():
    parts = [RNG.normal(i * 10, 1, 20000) for i in range(4)]
    merged = KLLSketch(200)
    for p in parts:
        merged.merge(KLLSketch(200).add(p))
    union = np.sort(np.concatenate(parts))
    n = union.size
    for q in [0.1, 0.5, 0.9]:
        est = merged.quantile(q)
        true_rank = np.searchsorted(union, est) / n
        assert abs(true_rank - q) <= 4 * merged.epsilon
    rt = KLLSketch.from_bytes(merged.to_bytes())
    assert np.array_equal(rt.quantiles([0.1, 0.5, 0.9]), merged.quantiles([0.1, 0.5, 0.9]))
    with pytest.raises(ValueError):
        merged.merge(KLLSketch(100))


def _max_rank_err(sk: KLLSketch, exact: np.ndarray) -> float:
    """Worst rank error over percentiles 1-99: how far each estimate's
    positions among the sorted exact values lie from the exact lower/upper
    quantile's, as a fraction of n."""
    grid = np.arange(1, 100) / 100
    rank = grid * (exact.size - 1)
    est = sk.quantiles(grid)
    first = np.searchsorted(exact, est, side="left")
    last = np.searchsorted(exact, est, side="right") - 1
    return float(np.maximum(np.maximum(first - np.ceil(rank), np.floor(rank) - last), 0).max()) / exact.size


@pytest.fixture(scope="module", params=[0, 1], ids=["seed0", "seed1"])
def lognormal_1e6(request):
    values = np.random.default_rng(request.param).lognormal(0, 1, 10**6)
    return values, np.sort(values)


def _feed(values: np.ndarray, step: int) -> KLLSketch:
    sk = KLLSketch(200)
    for i in range(0, values.size, step):
        sk.add(values[i : i + step])
    return sk


@pytest.mark.parametrize("order", ["add_1000", "add_97", "merge_1000_partials", "sorted", "reverse_sorted"])
def test_kll_rank_error_within_eps_under_many_compactions(lognormal_1e6, order):
    """10^6 values through thousands of compactions stay within eps = 2/k
    over percentiles 1-99.  Random order fed in small pieces, or as many
    merged partials, is the hard case for deterministic compaction offsets:
    with one offset shared by all levels, a level can get the same parity
    every time and its error adds up (1.5-1.9 eps at k=200); one offset per
    level keeps these cases under 0.9 eps.  Sorted and reverse-sorted input
    stays under 0.5 eps either way."""
    values, exact = lognormal_1e6
    if order == "add_1000":
        sk = _feed(values, 1000)
    elif order == "add_97":
        sk = _feed(values, 97)
    elif order == "merge_1000_partials":
        sk = KLLSketch(200)
        for part in np.split(values, 1000):
            sk.merge(KLLSketch(200).add(part))
    else:
        sk = _feed(exact if order == "sorted" else exact[::-1], 1000)
    assert sk.n == values.size
    assert _max_rank_err(sk, exact) <= sk.epsilon


def test_kll_level0_sorted_and_old_blobs_read():
    """Level 0 stays sorted through adds and merges, so a sketch that never
    compacted is the same blob for any order of its values; a blob written
    with level 0 in arrival order still decodes and answers the same
    quantiles."""
    v = RNG.normal(size=150)
    a = KLLSketch(200).add(v)
    b = KLLSketch(200).add(v[::-1][:70]).merge(KLLSketch(200).add(v[::-1][70:]))
    assert np.array_equal(a.levels[0], np.sort(v))
    assert a.to_bytes() == b.to_bytes()
    old = struct.pack("<IQddII", 200, v.size, v.min(), v.max(), 1, v.size) + v.tobytes()
    rt = KLLSketch.from_bytes(old)
    assert rt.to_bytes() == old
    qs = [0.0, 0.3, 0.5, 0.99, 1.0]
    assert np.array_equal(rt.quantiles(qs), a.quantiles(qs))


def _kll_corpus(rng, k: int) -> list:
    """Sketches at k: empty, NaN-only, one value, exactly k and k+1 values,
    NaN among values, random small ones, and multi-level ones up to a
    level-10 weight."""
    out = [KLLSketch(k), KLLSketch(k).add([np.nan, np.nan]), KLLSketch(k).add([3.25]),
           KLLSketch(k).add(rng.normal(size=k)), KLLSketch(k).add(rng.normal(size=k + 1)),
           KLLSketch(k).add(np.where(rng.random(40) < 0.3, np.nan, rng.normal(size=40)))]
    out += [KLLSketch(k).add(rng.lognormal(size=rng.integers(0, 3 * k))) for _ in range(30)]
    for n in (5 * k, 60 * k, 3000 * k):
        sk = KLLSketch(k)
        for part in np.array_split(rng.normal(size=n), 7):
            sk.merge(KLLSketch(k).add(part))
        out.append(sk)
    assert max(len(s.levels) for s in out) > 10
    return out


def _blob_batch(blobs: list) -> KLLBatch:
    arr = pa.array(blobs, type=pa.large_binary())
    _, offsets, data = arr.buffers()
    return KLLBatch.from_blobs(
        np.frombuffer(data, dtype=np.uint8),
        np.frombuffer(offsets, dtype=np.int64),
        ~arr.is_null().to_numpy(zero_copy_only=False),
    )


def _blob(data: np.ndarray, offsets: np.ndarray, i: int) -> bytes:
    return bytes(data[offsets[i] : offsets[i + 1]])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kll_batch_matches_core(seed):
    """KLLBatch against KLLSketch over a randomized corpus: decode then
    encode gives the same bytes, merge_runs the bytes of the core merge
    loop (runs of one, exact runs of at most k items, runs that compact,
    shuffled order), from_values the bytes of one KLLSketch per group, and
    quantiles the core's value for value (NaN for empty or null)."""
    rng = np.random.default_rng(seed)
    k = 16
    sketches = _kll_corpus(rng, k)
    rng.shuffle(sketches)
    blobs = [s.to_bytes() for s in sketches]
    blobs.insert(5, None)
    batch = _blob_batch(blobs)
    data, offsets = batch.encode()
    for i, b in enumerate(blobs):
        assert _blob(data, offsets, i) == (b or b"")

    qs = [0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    got = batch.quantiles(qs)
    for i, b in enumerate(blobs):
        s = None if b is None else KLLSketch.from_bytes(b)
        if s is None or s.n == 0:
            assert np.isnan(got[i]).all()
        else:
            assert np.array_equal(got[i], s.quantiles(qs))

    with pytest.raises(ValueError):
        batch.merge_runs(np.array([0]))
    live = [b for b in blobs if b is not None]
    small = [KLLSketch(k).add(rng.normal(size=rng.integers(0, 6))).to_bytes() for _ in range(40)]
    live = small[:20] + live + small[20:]
    cuts = np.sort(rng.choice(np.arange(1, len(live)), size=len(live) // 3, replace=False))
    starts = np.concatenate([[0], cuts])
    data, offsets = _blob_batch(live).merge_runs(starts).encode()
    for r, (a, e) in enumerate(zip(starts, np.append(cuts, len(live)))):
        s = KLLSketch.from_bytes(live[a])
        for b in live[a + 1 : e]:
            s.merge(KLLSketch.from_bytes(b))
        assert _blob(data, offsets, r) == s.to_bytes()

    values = rng.lognormal(size=4000)
    values[rng.random(values.size) < 0.05] = np.nan
    group = rng.integers(0, 400, values.size)
    group[group % 97 == 0] = 1  # one group over k; some groups left empty
    data, offsets = KLLBatch.from_values(values, group, 410, k).encode()
    for g in range(410):
        assert _blob(data, offsets, g) == KLLSketch(k).add(values[group == g]).to_bytes()


def test_tdigest_tail_accuracy():
    n = 100000
    values = np.random.default_rng(17).lognormal(0, 2, n)
    td = TDigest(200)
    for chunk in np.array_split(values, 20):
        td.add(chunk)
    sv = np.sort(values)
    for q, tol in [(0.001, 0.002), (0.01, 0.004), (0.5, 0.02), (0.99, 0.004), (0.999, 0.002)]:
        est = td.quantile(q)
        true_rank = np.searchsorted(sv, est) / n
        assert abs(true_rank - q) <= tol, (q, est, true_rank)
    # bounded memory
    assert td.n_centroids <= 2 * 200
    assert td.quantile(0.0) == pytest.approx(values.min())
    assert td.quantile(1.0) == pytest.approx(values.max())


def test_tdigest_merge_and_serde():
    parts = [RNG.exponential(5, 30000) for _ in range(4)]
    merged = TDigest(200)
    for p in parts:
        merged.merge(TDigest(200).add(p))
    union = np.sort(np.concatenate(parts))
    for q in [0.01, 0.5, 0.99]:
        est = merged.quantile(q)
        true_rank = np.searchsorted(union, est) / union.size
        assert abs(true_rank - q) <= 0.01
    rt = TDigest.from_bytes(merged.to_bytes())
    assert np.array_equal(rt.quantiles([0.5, 0.99]), merged.quantiles([0.5, 0.99]))
    with pytest.raises(ValueError):
        merged.merge(TDigest(100))


# ------------------------------------------------------------------------ KMV
def test_kmv_estimate_exact_below_k_and_accurate_above(spark):
    from sketches_go_spark.functions import sketch_fns as sk

    df = spark.range(0, 20000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.concat(F.lit("u"), (F.col("id") / 2).cast("int").cast("string")).alias("item"),
    )
    # group 0 and 1 each see the same 10000 distinct items
    est = {
        r["g"]: r["est"]
        for r in sk.kmv_estimate_from_sketch(
            sk.kmv_sketch(df, "item", ["g"], k=256), ["g"], k=256
        ).collect()
    }
    for g in ("0", "1"):
        assert abs(est[g] - 10000) / 10000 < 0.2, est
    # below k: exact
    small = spark.range(0, 50).select(
        F.lit("s").alias("g"), F.col("id").cast("string").alias("item")
    )
    out = sk.kmv_estimate_from_sketch(
        sk.kmv_sketch(small, "item", ["g"], k=256), ["g"], k=256
    ).collect()
    assert out[0]["est"] == 50.0


def test_kmv_merge_is_union_monoid(spark):
    from sketches_go_spark.functions import sketch_fns as sk

    a = spark.range(0, 3000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("item")
    )
    b = spark.range(2000, 6000).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("item")
    )
    k = 64
    merged = sk.kmv_merge_sketches(
        sk.kmv_sketch(a, "item", ["g"], k=k),
        sk.kmv_sketch(b, "item", ["g"], k=k),
        ["g"], k=k,
    )
    direct = sk.kmv_sketch(a.union(b), "item", ["g"], k=k)
    assert sorted(r["hv"] for r in merged.collect()) == sorted(
        r["hv"] for r in direct.collect()
    )


def test_kmv_overlap_estimates_track_truth(spark):
    from sketches_go_spark.functions import sketch_fns as sk

    # A = [0, 8000), B = [4000, 12000): |A∩B| = 4000, |A∪B| = 12000
    rows = spark.range(0, 8000).select(
        F.lit("A").alias("g"), F.col("id").cast("string").alias("item")
    ).union(
        spark.range(4000, 12000).select(
            F.lit("B").alias("g"), F.col("id").cast("string").alias("item")
        )
    )
    out = sk.kmv_pairwise_overlap(
        sk.kmv_sketch(rows, "item", ["g"], k=512), "g", k=512
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert abs(r["est_union"] - 12000) / 12000 < 0.15, r
    assert abs(r["est_intersection"] - 4000) / 4000 < 0.3, r
    assert abs(r["jaccard_est"] - 4000 / 12000) < 0.1, r
