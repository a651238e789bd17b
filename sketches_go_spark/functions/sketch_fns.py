"""Spark functions for the companion sketches (HLL, count-min, Bloom, KLL,
t-digest) — same two-path design as DDSketch:

- **relational paths** (HLL registers, CMS counters, Bloom bit sets) are pure
  Catalyst: hash → modulo → groupBy, map-side combined, Python-free, and
  exactly reproducible in DuckDB (the oracle replays the identical hash);
- **blob paths** (``hll_agg``, ``cms_agg``, ``bloom_agg``) serialize that
  same relation: it is sorted by key and one ``mapInPandas`` assembler
  writes each Arrow batch of whole key runs as blobs with one numpy
  scatter (:func:`_serialize_runs`), so a blob is the relation, never a
  second build of its monoid;
- **rank sketches** (KLL, t-digest) have no relational form and build as
  partial blobs → one exchange of the partials on the key → a streaming
  merge of each key run (:func:`two_phase_merge`, which also merges stored
  blobs of any of these sketches).  KLL works a batch at a time
  (``core.kll.KLLBatch``): :func:`kll_agg` writes one partial per group
  of each Arrow batch (a group with at most k values in the batch is its
  values sorted, one lexsort for all such groups), and the merge and
  :func:`sketch_quantiles_udf` take a frame of blobs at once.  t-digest
  keeps one object per group (:func:`two_phase_agg`) and one decode per
  blob.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from sketches_go_spark.core.bloom import bloom_salt
from sketches_go_spark.core.cms import cms_salt
from sketches_go_spark.core.hashing import HASH_BITS
from sketches_go_spark.core.hll import HyperLogLog, hll_alpha
from sketches_go_spark.core.kll import KLLBatch, KLLSketch
from sketches_go_spark.core.tdigest import TDigest
from sketches_go_spark.functions.ddsketch_fns import (
    _blob_buffers,
    _group_cols,
    _key_frame,
    _run_starts,
    _sketch_rows,
    _whole_runs,
    _with_null_flags,
)
from sketches_go_spark.functions.expressions import portable_hash64


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# =====================================================================
# blobs of a monoid relation; generic two-phase UDAF template
# =====================================================================
def _serialize_runs(
    rel: DataFrame,
    keys: Sequence[str],
    header: bytes,
    body_bytes: int,
    fill: Callable[[np.ndarray, pd.DataFrame, np.ndarray], None],
) -> DataFrame:
    """(keys..., sketch) from a sketch's Catalyst relation: one blob per
    group, ``header`` then ``body_bytes`` of payload.

    The relation is repartitioned and sorted by key, and one mapInPandas
    pass walks whole key runs (``ddsketch_fns._whole_runs``: one Arrow batch
    plus one carried group per task).  Per batch ``fill(body, frame,
    group)`` scatters the relation's rows into the zeroed (groups x
    body_bytes) uint8 matrix, ``group`` giving each row's run.  Each cell of
    a group appears once in the relation, so the sort is on the keys
    alone."""
    kcols = list(keys)
    out_schema = StructType(
        [rel.schema[k] for k in kcols] + [StructField("sketch", BinaryType())]
    )
    head = np.frombuffer(header, dtype=np.uint8)
    width = head.size + body_bytes

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in _whole_runs(batches, kcols):
            starts = _run_starts(frame, kcols)
            group = np.repeat(np.arange(starts.size), np.diff(np.append(starts, len(frame))))
            blobs = np.zeros((starts.size, width), dtype=np.uint8)
            blobs[:, : head.size] = head
            fill(blobs[:, head.size :], frame, group)
            offsets = np.arange(starts.size + 1, dtype=np.int64) * width
            yield _sketch_rows(frame, starts, kcols, blobs.ravel(), offsets)

    return (
        _with_null_flags(rel, kcols)
        .repartition(*kcols)
        .sortWithinPartitions(*kcols)
        .mapInPandas(assemble, schema=out_schema)
    )


# Distinct groups a two_phase_agg (t-digest) partial build holds before it
# emits them as partial blobs (the merge stage folds a group's several
# partials), so a task's memory is bounded whatever the key cardinality.
_FLUSH_GROUPS = 50_000


def two_phase_agg(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str],
    make: Callable[[], object],
    partial_add: Callable[[object, dict], None],
    decode: Callable[[bytes], object],
    out_col: str = "sketch",
) -> DataFrame:
    """Two-phase topology for a sketch whose partial build is a per-group
    object update; t-digest is the one such sketch left (HLL / CMS / Bloom
    serialize their Catalyst relations, :func:`_serialize_runs`; KLL builds
    by the batch, :func:`kll_agg`).  Sketch objects must expose
    ``.merge()`` and ``.to_bytes()``.

    One partial sketch per (group x input partition) is built batch-wise in
    mapInPandas (map-side combine); the tiny encoded partials shuffle on
    the group key into :func:`two_phase_merge`.  A task emits its partials
    whenever it holds ``_FLUSH_GROUPS`` groups.

    ``partial_add`` receives a dict of numpy column views for the group's
    rows (NOT a DataFrame slice): fancy-indexed ndarray views cost ~1-2 us
    per group where ``pdf.iloc[idx]`` costs ~40 us of block-manager work —
    a 5-10x build-stage difference at 10^5+ groups per task."""
    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(list(key_fields) + [StructField(out_col, BinaryType())])
    kcols = list(keys)
    source = _with_null_flags(df.select(*keys, *cols), kcols)
    gcols = _group_cols(source.columns, kcols)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}

        def drain() -> pd.DataFrame:
            groups = pd.DataFrame(
                [gk if isinstance(gk, tuple) else (gk,) for gk in acc], columns=gcols
            )
            out = _key_frame(groups, kcols, slice(None))
            out[out_col] = [s.to_bytes() for s in acc.values()]
            return out

        for pdf in batches:
            if pdf.empty:
                continue
            arrs = {c: pdf[c].to_numpy() for c in cols}
            for gkey, idx in pdf.groupby(gcols, dropna=False, sort=False).indices.items():
                s = acc.get(gkey)
                if s is None:
                    s = acc[gkey] = make()
                partial_add(s, {c: a[idx] for c, a in arrs.items()})
            if len(acc) >= _FLUSH_GROUPS:
                yield drain()
                acc = {}
        if acc:
            yield drain()

    partials = source.mapInPandas(build, schema=out_schema)
    return two_phase_merge(partials, keys, decode, out_col)


def _batch_codec(decode: Callable[[bytes], object]):
    """The columnar class of the blobs ``decode`` reads, or None.  The one
    place that routes KLL blobs (``KLLSketch.from_bytes``) to the batch
    merge and quantiles; other sketches decode one blob per row."""
    return KLLBatch if decode == KLLSketch.from_bytes else None


def two_phase_merge(
    partials: DataFrame,
    keys: Sequence[str],
    decode: Callable[[bytes], object],
    out_col: str = "sketch",
) -> DataFrame:
    """Shared merge stage: shuffle the encoded partials by group key, sort
    within partitions, and fold each key run (``ddsketch_fns._whole_runs``)
    in one streaming mapInPandas pass — the same shape as
    ``ddsketch_fns.ddsketch_merge``.  KLL frames merge at once
    (``KLLBatch.merge_runs``, byte for byte the core merge loop); other
    sketches take one Python decode per partial row."""
    kcols = list(keys)
    key_fields = [partials.schema[k] for k in kcols]
    out_schema = StructType(list(key_fields) + [StructField(out_col, BinaryType())])
    batch = _batch_codec(decode)

    def merge_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in _whole_runs(batches, kcols):
            starts = _run_starts(frame, kcols)
            if batch is not None:
                merged = batch.from_blobs(*_blob_buffers(frame[out_col])).merge_runs(starts)
                yield _sketch_rows(frame, starts, kcols, *merged.encode(), out_col=out_col)
                continue
            blobs = frame[out_col].to_numpy()
            merged = []
            for a, b in zip(starts, np.append(starts[1:], len(frame))):
                s = decode(bytes(blobs[a]))
                for blob in blobs[a + 1 : b]:
                    s.merge(decode(bytes(blob)))
                merged.append(s.to_bytes())
            out = _key_frame(frame, kcols, starts)
            out[out_col] = merged
            yield out

    shuffled = _with_null_flags(partials, kcols).repartition(*kcols).sortWithinPartitions(*kcols)
    return shuffled.mapInPandas(merge_stream, schema=out_schema)


# =====================================================================
# HyperLogLog
# =====================================================================
def hll_register_exprs(item: Column, p: int) -> tuple[Column, Column]:
    """(register index, rho) Catalyst expressions — identical semantics to
    core.hll (idx = h % m, rho = (60-p)+1 - bitlen(h >> p))."""
    m = 1 << p
    h = portable_hash64(item)
    idx = F.pmod(h, F.lit(m)).cast("int")
    w = F.shiftright(h, p)
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    rho = (F.lit(HASH_BITS - p + 1) - bitlen).cast("int")
    return idx, rho


def hll_registers(
    df: DataFrame, item_col: str | Column, keys: Sequence[str], p: int = 12
) -> DataFrame:
    """(keys..., reg:int, rho:int) — the HLL register relation, pure Catalyst.
    One map-side-combined shuffle keyed on (keys, reg); at most m rows per
    group survive regardless of input size."""
    idx, rho = hll_register_exprs(_col(item_col), p)
    return (
        df.where(_col(item_col).isNotNull())
        .select(*keys, idx.alias("reg"), rho.alias("rho"))
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_rollup_registers(
    regs: DataFrame, to_keys: Sequence[str]
) -> DataFrame:
    """Roll an HLL register relation up to coarser keys: registers are a
    MAX-monoid, so ``max(rho)`` per (to_keys, reg) is exactly the register
    relation that would have been built directly at the coarser grain.  This
    is what makes a precomputed (day, key) register cube answer any
    date-range distinct query in O(cube rows) without rescanning the data —
    the HLL twin of the DDSketch bins sum-monoid cube."""
    return regs.groupBy(*to_keys, "reg").agg(F.max("rho").alias("rho"))


def hll_sliding_registers(
    regs: DataFrame,
    time_col: str,
    keys: Sequence[str],
    window: int,
) -> DataFrame:
    """Trailing-window registers from a per-period register cube: the
    max-monoid twin of ddsketch_fns.sliding_bins — each (period, reg, rho)
    row is exploded into the ``window`` periods it serves and re-maxed, so
    moving distinct counts (trailing 7-day uniques per day) cost
    window × cube rows with no rescan and no missing-sparse-row pitfall."""
    if window < 1:
        raise ValueError("window must be >= 1 period")
    t = F.col(time_col)
    served = F.explode(F.sequence(t, t + F.lit(int(window) - 1))).alias(
        time_col
    )
    other = [k for k in keys if k != time_col]
    contrib = regs.select(served, *other, "reg", "rho")
    return contrib.groupBy(time_col, *other, "reg").agg(
        F.max("rho").alias("rho")
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    keys: Sequence[str],
    p: int = 12,
    est_decimals: int = 4,
) -> DataFrame:
    """(keys..., est:double) from an existing register relation — the
    estimator half of :func:`hll_estimate_relational`, reusable on rolled-up
    or cubed registers."""
    m = 1 << p
    amm = hll_alpha(m) * m * m
    agg = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("used"),
    )
    raw = F.lit(amm) / (F.col("s") + (F.lit(m) - F.col("used")))
    v = F.lit(m) - F.col("used")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0), F.lit(m) * F.log(F.lit(m) / v)
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, est_decimals).alias("est"))


def hll_estimate_relational(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    p: int = 12,
    est_decimals: int = 4,
) -> DataFrame:
    """(keys..., est:double) distinct-count estimate, pure Catalyst, with the
    standard linear-counting small-range correction."""
    regs = hll_registers(df, item_col, keys, p)
    return hll_estimate_from_registers(regs, keys, p, est_decimals)


def hll_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    p: int = 12,
) -> DataFrame:
    """Blob path: (keys..., sketch:binary), each blob the group's rows of
    :func:`hll_registers` written as ``HyperLogLog.to_bytes()`` (the
    precision byte, then the m uint8 registers)."""

    def fill(body: np.ndarray, frame: pd.DataFrame, group: np.ndarray) -> None:
        body[group, frame["reg"].to_numpy()] = frame["rho"].to_numpy()

    regs = hll_registers(df, item_col, keys, p)
    return _serialize_runs(regs, keys, struct.pack("B", p), 1 << p, fill)


def hll_estimate_udf(sketch: Column, est_decimals: int = 4) -> Column:
    @F.pandas_udf(DoubleType())
    def est(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                HyperLogLog.from_bytes(bytes(b)).estimate() if b is not None else np.nan
                for b in blobs
            ]
        )

    return F.round(est(sketch), est_decimals)


# =====================================================================
# KMV (k-minimum-values / bottom-k theta sketch)
# =====================================================================
# The one distinct-count capability the HLL register relation cannot give:
# SET-EXPRESSION estimates (intersection / overlap / Jaccard of groups).
# A KMV sketch is the k smallest distinct hash values per group; it is a
# union-monoid (k smallest of a union = k smallest of the merged bottom-k
# sets), and because it carries actual hash SAMPLES rather than register
# maxima, any set expression can be evaluated on the samples below the
# union's k-th minimum (theta).  Estimators are the standard KMV forms
# (Beyer et al., "On synopses for distinct-value estimation under multiset
# operations", SIGMOD'07): distinct ≈ (k-1)/theta, |A∩B| ≈ c/theta where c
# counts common samples under theta.  Pure Catalyst, portable-hash based —
# the DuckDB oracle replays every row bit-for-bit.
_KMV_SCALE = float(1 << HASH_BITS)  # hash values are uniform on [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    k: int = 256,
    hash_fn=None,
) -> DataFrame:
    """(keys..., pos:int, hv:bigint) — the k smallest distinct item-hash
    values per group, pos = 1..k rank.  Scale shape: the distinct() and the
    rank window shuffle on the same keys (one exchange under AQE reuse); at
    most k rows per group survive.  Groups with fewer than k distinct items
    keep them all (the estimator then returns the EXACT count)."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    hash_fn = hash_fn or portable_hash64
    it = _col(item_col)
    distinct = (
        df.where(it.isNotNull())
        .select(*keys, hash_fn(it, "").alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy(F.col("hv").asc())
    return (
        distinct.withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= k)
    )


def kmv_estimate_from_sketch(
    sk_df: DataFrame, keys: Sequence[str], k: int, est_decimals: int = 4
) -> DataFrame:
    """(keys..., est:double): (k-1)/theta when the sketch is full (theta =
    k-th minimum / 2^60), exact count when the group has < k distinct."""
    agg = sk_df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SCALE) / F.col("kth").cast("double"))
    return agg.select(*keys, F.round(est, est_decimals).alias("est"))


def kmv_merge_sketches(
    a: DataFrame, b: DataFrame, keys: Sequence[str], k: int
) -> DataFrame:
    """Union-monoid merge: k smallest of the combined bottom-k sets — equals
    the sketch built directly on the unioned data (associative/commutative,
    the same merge contract as every other sketch in the library)."""
    from pyspark.sql.window import Window

    u = a.select(*keys, "hv").union(b.select(*keys, "hv")).distinct()
    w = Window.partitionBy(*keys).orderBy(F.col("hv").asc())
    return (
        u.withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= k)
    )


def kmv_pairwise_overlap(
    sk_df: DataFrame,
    key: str,
    k: int,
    est_decimals: int = 4,
) -> DataFrame:
    """(key_a, key_b, est_a, est_b, est_union, est_intersection, jaccard_est)
    for every unordered pair of groups in a keyed KMV sketch relation.

    Per pair: L = k smallest of the two sketches' union, theta = max(L)/2^60;
    |A∪B| ≈ (k-1)/theta, |A∩B| ≈ c/theta with c = |{x ∈ L : x ∈ A_sk ∧
    x ∈ B_sk}|, Jaccard ≈ c/k (all exact when the union has < k samples).
    Join sizes are pairs × k rows — independent of the data size, which is
    the point: pairwise overlap matrices over raw 100-TB data are quadratic
    scans, over KMV sketches they are trivially small."""
    from pyspark.sql.window import Window

    # the sketch relation is consumed by FOUR branches (group list, both
    # membership sides, per-group estimates); it is at most groups x k rows,
    # so materialize it once instead of re-running the upstream
    # distinct+window sketch build per branch
    sk_df = sk_df.localCheckpoint(eager=True)
    ks = sk_df.select(F.col(key).alias("g"), "hv")
    names = ks.select("g").distinct()
    pairs = (
        names.select(F.col("g").alias("ka"))
        .crossJoin(names.select(F.col("g").alias("kb")))
        .where(F.col("ka") < F.col("kb"))
    )
    # the pair list is |groups|^2/2 rows — always broadcast it so the sketch
    # relation (the big side at high group cardinality) never shuffles
    am = ks.withColumnRenamed("g", "ka").join(F.broadcast(pairs), "ka").select(
        "ka", "kb", "hv", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    bm = ks.withColumnRenamed("g", "kb").join(F.broadcast(pairs), "kb").select(
        "ka", "kb", "hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    u = (
        am.unionByName(bm)
        .groupBy("ka", "kb", "hv")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("ka", "kb").orderBy(F.col("hv").asc())
    kept = u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = kept.groupBy("ka", "kb").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("hv").alias("kth"),
        F.sum(F.col("ia") * F.col("ib")).alias("c"),
    )
    full = F.col("n") >= k
    inv_theta = F.lit(_KMV_SCALE) / F.col("kth").cast("double")
    est_union = F.when(full, F.lit(float(k - 1)) * inv_theta).otherwise(
        F.col("n").cast("double")
    )
    # clamp: c can reach k (> k-1), which would put the raw intersection
    # estimate above the union estimate — impossible for true sets
    est_inter = F.least(
        F.when(full, F.col("c").cast("double") * inv_theta).otherwise(
            F.col("c").cast("double")
        ),
        est_union,
    )
    jacc = F.col("c").cast("double") / F.least(F.lit(k), F.col("n")).cast("double")
    per_group = kmv_estimate_from_sketch(sk_df, [key], k, est_decimals)
    ea = per_group.select(
        F.col(key).alias("ka"), F.col("est").alias("est_a")
    )
    eb = per_group.select(
        F.col(key).alias("kb"), F.col("est").alias("est_b")
    )
    return (
        agg.select(
            "ka",
            "kb",
            F.round(est_union, est_decimals).alias("est_union"),
            F.round(est_inter, est_decimals).alias("est_intersection"),
            F.round(jacc, est_decimals).alias("jaccard_est"),
        )
        .join(F.broadcast(ea), "ka")
        .join(F.broadcast(eb), "kb")
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            "est_a",
            "est_b",
            "est_union",
            "est_intersection",
            "jaccard_est",
        )
    )


# =====================================================================
# Count-min
# =====================================================================
def cms_counters(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    depth: int = 4,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """(keys..., row:int, col:int, cnt:double) counter relation, pure
    Catalyst (posexplode of the d hash columns -> groupBy)."""
    item = _col(item_col)
    cols = F.array(
        *[
            F.pmod(portable_hash64(item, cms_salt(j)), F.lit(width)).cast("int")
            for j in range(depth)
        ]
    )
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    return (
        df.where(item.isNotNull())
        .select(*keys, F.posexplode(cols).alias("row", "col"), w.alias("w"))
        .groupBy(*keys, "row", "col")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_rollup_counters(
    counters: DataFrame, to_keys: Sequence[str]
) -> DataFrame:
    """Roll a counter relation up to coarser keys: counters are a SUM-monoid
    (cms.go MergeWith is element-wise addition), so summing over dropped
    keys equals counters built directly at the coarser grain — the
    count-min leg of the cube pattern (bins=sum, registers=max,
    counters=sum)."""
    return counters.groupBy(*to_keys, "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    counters: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Point-query the counter relation for each row of ``items``:
    est = min over rows j of counter[(j, h_j(item) % w)].  The counter
    relation is small (d*w per group) → broadcast join."""
    item = _col(item_col)
    cols = F.array(
        *[
            F.pmod(portable_hash64(item, cms_salt(j)), F.lit(width)).cast("int")
            for j in range(depth)
        ]
    )
    probes = items.select(
        *keys, item.alias(item_col), F.posexplode(cols).alias("row", "col")
    )
    joined = probes.join(F.broadcast(counters), [*keys, "row", "col"], "left").na.fill(
        {"cnt": 0.0}
    )
    return joined.groupBy(*keys, item_col).agg(F.min("cnt").alias("est_cnt"))


def cms_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Blob path: encoded CMS value per group, each blob the group's rows
    of :func:`cms_counters` written as ``CountMinSketch.to_bytes()`` (depth
    and width as two little-endian uint32, then the float64 table)."""

    def fill(body: np.ndarray, frame: pd.DataFrame, group: np.ndarray) -> None:
        cell = frame["row"].to_numpy(dtype=np.int64) * width + frame["col"].to_numpy()
        body.view(np.float64)[group, cell] = frame["cnt"].to_numpy()

    counters = cms_counters(df, item_col, keys, depth, width)
    return _serialize_runs(
        counters, keys, struct.pack("<II", depth, width), 8 * depth * width, fill
    )


# =====================================================================
# Bloom
# =====================================================================
def bloom_bits(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """(keys..., pos:int) distinct set-bit relation, pure Catalyst."""
    item = _col(item_col)
    positions = F.array(
        *[
            F.pmod(portable_hash64(item, bloom_salt(j)), F.lit(m_bits)).cast("int")
            for j in range(k)
        ]
    )
    return (
        df.where(item.isNotNull())
        .select(*keys, F.explode(positions).alias("pos"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    item_col: str,
    m_bits: int = 4096,
    k: int = 5,
    keys: Sequence[str] = (),
) -> DataFrame:
    """(keys..., item, might_contain:boolean): true iff all k probe positions
    are set.  Bit relation is tiny → broadcast."""
    item = _col(item_col)
    positions = F.array(
        *[
            F.pmod(portable_hash64(item, bloom_salt(j)), F.lit(m_bits)).cast("int")
            for j in range(k)
        ]
    )
    exploded = probes.select(*keys, item.alias(item_col), F.explode(positions).alias("pos"))
    marked = exploded.join(
        F.broadcast(bits.withColumn("_hit", F.lit(1))), [*keys, "pos"], "left"
    )
    return marked.groupBy(*keys, item_col).agg(
        (F.count("_hit") == F.lit(k)).alias("might_contain")
    )


def bloom_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """Blob path: encoded Bloom filter value per group, each blob the
    group's rows of :func:`bloom_bits` written as ``BloomFilter.to_bytes()``
    (m and k as two little-endian uint32, then the packbits bit array)."""

    def fill(body: np.ndarray, frame: pd.DataFrame, group: np.ndarray) -> None:
        bits = np.zeros((body.shape[0], m_bits), dtype=bool)
        bits[group, frame["pos"].to_numpy()] = True
        body[:] = np.packbits(bits, axis=1)

    bits = bloom_bits(df, item_col, keys, m_bits, k)
    return _serialize_runs(bits, keys, struct.pack("<II", m_bits, k), (m_bits + 7) // 8, fill)


# =====================================================================
# KLL / t-digest (UDAF-only: rank-space sketches aren't relational)
# =====================================================================
def kll_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    k: int = 200,
) -> DataFrame:
    """(keys..., sketch) KLL blobs, ``KLLSketch(k).to_bytes()`` of each
    group's non-null, non-NaN values.

    Each input Arrow batch becomes one partial blob per group it holds
    (``KLLBatch.from_values``: one lexsort for the groups with at most k
    values in the batch, a ``KLLSketch`` for each larger one).  Nothing is
    kept across batches, so a task holds one batch and the sketches built
    from it, whatever the key cardinality.  The partials exchange on the
    key and :func:`two_phase_merge` folds each key run.  A group of at most
    k values never compacts: its blob is its values sorted, the same under
    any partitioning."""
    kcols = list(keys)
    out_schema = StructType([df.schema[c] for c in kcols] + [StructField("sketch", BinaryType())])
    source = _with_null_flags(df.where(_col(value_col).isNotNull()).select(*kcols, value_col), kcols)
    gcols = _group_cols(source.columns, kcols)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            group = pdf.groupby(gcols, dropna=False, sort=False).ngroup().to_numpy()
            first = np.unique(group, return_index=True)[1]
            values = pdf[value_col].to_numpy(dtype=np.float64)
            blobs = KLLBatch.from_values(values, group, first.size, k).encode()
            yield _sketch_rows(pdf, first, kcols, *blobs)

    partials = source.mapInPandas(build, schema=out_schema)
    return two_phase_merge(partials, keys, KLLSketch.from_bytes)


def tdigest_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    delta: float = 200.0,
) -> DataFrame:
    def add(sk: TDigest, cols: dict) -> None:
        sk.add(np.asarray(cols[value_col], dtype=np.float64))

    return two_phase_agg(
        df.where(_col(value_col).isNotNull()),
        [value_col],
        keys,
        lambda: TDigest(delta),
        add,
        TDigest.from_bytes,
    )


def sketch_quantiles_udf(
    decode: Callable[[bytes], object], quantiles: Sequence[float]
) -> Callable[[Column], Column]:
    """Column function: each blob's quantiles as array<double>, null for a
    null blob and NaN for an empty sketch.  KLL blobs are answered a batch
    at a time (``KLLBatch.quantiles``, value for value
    ``KLLSketch.quantiles``); other sketches decode one blob per row."""
    qs = [float(q) for q in quantiles]
    batch = _batch_codec(decode)
    empty = [float("nan")] * len(qs)

    @F.pandas_udf(ArrayType(DoubleType()))
    def extract(blobs: pd.Series) -> pd.Series:
        if batch is not None:
            data, offsets, valid = _blob_buffers(blobs)
            rows = batch.from_blobs(data, offsets, valid).quantiles(qs).tolist()
            return pd.Series([r if ok else None for r, ok in zip(rows, valid)])
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            s = decode(bytes(b))
            out.append([float(x) for x in s.quantiles(qs)] if s.n else empty)
        return pd.Series(out)

    return extract


def with_sketch_quantiles(
    sketches: DataFrame,
    decode: Callable[[bytes], object],
    quantiles: Sequence[float],
    sketch_col: str = "sketch",
    prefix: str = "p",
) -> DataFrame:
    def colname(q: float) -> str:
        pct = q * 100
        return f"{prefix}{int(pct)}" if float(pct).is_integer() else f"{prefix}{pct}".replace(".", "_")

    extract = sketch_quantiles_udf(decode, quantiles)
    tmp = sketches.withColumn("_qarr", extract(F.col(sketch_col)))
    return tmp.withColumns(
        {colname(q): F.element_at("_qarr", i + 1) for i, q in enumerate(quantiles)}
    ).drop("_qarr")


def cms_heavy_hitters(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    k: int = 10,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """(keys..., rank, item, est_cnt): top-k items per group by count-min
    estimate — the classic heavy-hitters query over a CMS.

    Candidates are the distinct (keys, item) pairs: at 10^12 rows the
    candidate relation is bounded by the VOCABULARY per group (tools, event
    names, tokens), not the row count, and the counter relation is d*w rows
    per group, so both sides of the probe join stay tiny regardless of input
    size.  Ranking ties break by item so the ordering is deterministic and
    engine-portable."""
    from pyspark.sql.window import Window

    src = df.where(_col(item_col).isNotNull())
    counters = cms_counters(src, item_col, keys, depth, width)
    items = src.select(*keys, _col(item_col).alias("item")).distinct()
    est = cms_estimate(counters, items, "item", depth, width, keys=keys)
    part = list(keys) if keys else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(
        F.col("est_cnt").desc(), F.col("item").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*keys, "rank", "item", "est_cnt")
    )
