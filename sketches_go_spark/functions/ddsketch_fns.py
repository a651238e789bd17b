"""DDSketch on Spark — the two interoperable execution paths.

**Relational path (default for bulk batch):** bins-as-rows.  The sketch build
is literally ``groupBy(keys, sign, bucket).sum(weight)`` — pure Catalyst,
whole-stage codegen, map-side partial aggregation, zero Python.  Quantile
extraction (:func:`quantiles_from_bins`) is ONE window per group ordered by
(sign, bucket), holding the per-sign running counts and the group totals,
then an explode of the quantile literals and a ``groupBy(keys, q)`` of
conditional mins that reuses the window's partitioning — also pure
Catalyst: two exchanges in all, one window, no join.  Each of its steps is
one projection of Spark SQL text, which the JVM parses once; a Column tree
would cost one py4j round trip per node.  This is the plan you want at
100 TB: the only wide shuffle over raw rows keys on ``(keys, sign,
bucket)``, which is fine-grained even when a single group key is hot
(bucket spreads a hot key over ~hundreds of reducers), and the shuffle
payload after partial agg is at most ``groups x buckets`` rows regardless
of input size.

**UDAF path:** the sketch as a *value* — an encoded ``BinaryType`` blob.
Three build strategies (see :func:`ddsketch_agg`): ``bins``, the default
(relational bins + single-scan exact-stat partials; the blobs are a
serialization of that tiny bins relation, assembled a batch of whole
groups at a time), ``combine`` (vectorized ``mapInPandas`` partial per input
partition — map-side combine the Arrow way — then a shuffle of the tiny
partials and a STREAMING sorted-run merge) and ``repartition`` (raw shuffle
once, each group built in place, no merge).  Python never walks bins or
rows one by one: blobs are written, read and queried a whole Arrow batch
at a time (``core.encoding.encode_batch`` / ``decode_batch``,
``DDSketchBatch.quantiles``).  Needed for bounded-memory collapsing
semantics, sketch-as-a-column storage/rollup, streaming state and
checkpointed resume.  The blob is the reference-compatible binary format
(core.encoding), so shuffle/checkpoint bytes stay small.

Both paths share the mapping math and agree on bucket semantics; parity is
asserted in tests (same quantile estimates vs the same oracle).

Reference behavior being reproduced (citations, no code copied):
AddWithCount 3-way routing ddsketch.go:124-145; GetValueAtQuantile rank
convention and store branch ddsketch.go:166-191; KeyAtRank
dense_store.go:153-165; MergeWith ddsketch.go:302-310.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from sketches_go_spark.core.ddsketch import (
    COLLAPSE_LOWEST,
    COLLAPSE_NONE,
    DDSketchBatch,
    DDSketchConfig,
    _offsets,
)
from sketches_go_spark.core.encoding import decode_batch, encode_batch
from sketches_go_spark.functions.expressions import (
    bucket_value,
    double_sql,
    name_sql,
    sign_bucket,
)

DEFAULT_QUANTILES = (0.5, 0.95, 0.99)


# =====================================================================
# Relational path — bins as rows
# =====================================================================
def build_bins(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """(keys..., sign:int, bucket:int, count:double) histogram DataFrame.

    NaN / out-of-range / NULL measures are dropped (sign IS NULL), mirroring
    the reference's per-value rejection as a filter; callers needing the
    rejected count can diff ``F.count`` against the bin totals.
    One wide shuffle, map-side combined by Catalyst's partial hash agg.
    """
    config = config or DDSketchConfig()
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sign, bucket = sign_bucket(value, config.mapping())
    weight = (
        F.lit(1.0)
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
            "double"
        )
    )
    bins = (
        df.select(*keys, sign.alias("sign"), bucket.alias("bucket"), weight.alias("w"))
        .where("sign IS NOT NULL")
        .groupBy(*keys, "sign", "bucket")
        .agg(F.expr("sum(w) AS count"))
    )
    return collapse_bins(bins, keys, config)


def collapse_bins(
    bins: DataFrame, keys: Sequence[str], config: DDSketchConfig
) -> DataFrame:
    """Bounded-memory collapse, relationally: clamp buckets into the kept
    range per (keys, sign) and re-aggregate
    (semantic port of collapsing_lowest_dense_store.go:102-136)."""
    if config.collapse == COLLAPSE_NONE or config.max_bins <= 0:
        return bins
    w = Window.partitionBy(*keys, "sign")
    m = F.lit(config.max_bins)
    if config.collapse == COLLAPSE_LOWEST:
        clamped = F.when(
            F.col("sign") != 0,
            F.greatest(F.col("bucket"), F.max("bucket").over(w) - m + 1),
        ).otherwise(F.col("bucket"))
    else:
        clamped = F.when(
            F.col("sign") != 0,
            F.least(F.col("bucket"), F.min("bucket").over(w) + m - 1),
        ).otherwise(F.col("bucket"))
    return (
        bins.withColumn("bucket", clamped)
        .groupBy(*keys, "sign", "bucket")
        .agg(F.sum("count").alias("count"))
    )


def quantiles_from_bins(
    bins: DataFrame,
    keys: Sequence[str],
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    config: DDSketchConfig | None = None,
    estimate_decimals: int | None = 6,
) -> DataFrame:
    """Per-group quantile estimates from a bins DataFrame — pure Catalyst.

    Exact reference semantics (ddsketch.go:166-191 + dense_store.go:153-165):
    rank = q*(total-1); rank < neg_total → reversed rank in the negative
    store; rank < neg_total+zero → 0; else forward rank in the positive
    store; KeyAtRank = smallest bucket with cumulative count > rank, falling
    back to the store's max bucket.

    Output: (keys..., q:double, est:double) — est rounded to
    ``estimate_decimals`` so independent engines computing the identical
    algorithm hash-match (set None to skip rounding).
    """
    config = config or DDSketchConfig()
    mapping = config.mapping()
    k = [name_sql(c) for c in keys]
    part = f"PARTITION BY {', '.join(k)} " if k else ""
    # ONE window per group ordered by (sign, bucket): the per-sign running
    # counts are conditional running sums (rows of the other signs add
    # NULL), the group totals unbounded-frame aggregates of the same window
    run = f"OVER ({part}ORDER BY sign, bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    grp = f"OVER ({part}ORDER BY sign, bucket ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    qs = ", ".join(double_sql(q) for q in quantiles)
    rank = "q * (total - 1)"
    # KeyAtRank per (keys, q): the smallest bucket whose running count
    # exceeds the store's rank, else the store's max bucket
    pos_key = (
        "coalesce(min(CASE WHEN sign = 1 AND cum > greatest("
        f"{rank} - zero_count - neg_total, 0.0D) THEN bucket END),"
        " max(CASE WHEN sign = 1 THEN bucket END))"
    )
    neg_key = (
        "coalesce(min(CASE WHEN sign = -1 AND cum > greatest("
        f"neg_total - 1 - {rank}, 0.0D) THEN bucket END),"
        " max(CASE WHEN sign = -1 THEN bucket END))"
    )
    # the totals are constant per group: max() reads them
    group_rank = "q * (max(total) - 1)"
    est = (
        f"CASE WHEN {group_rank} < max(neg_total) THEN -{bucket_value(neg_key, mapping)}"
        f" WHEN {group_rank} < max(neg_total) + max(zero_count) THEN 0.0D"
        f" ELSE {bucket_value(pos_key, mapping)} END"
    )
    if estimate_decimals is not None:
        est = f"round({est}, {int(estimate_decimals)})"
    # each step is one projection of SQL text, parsed once by the JVM; the
    # quantile explode gets its own projection AFTER the window (in the
    # window's projection Spark plans the generator below it and the window
    # would count every bin once per quantile), and the groupBy reuses the
    # window's hash partitioning on the keys, so no exchange and no join
    return (
        bins.selectExpr(
            *k,
            "sign",
            "bucket",
            f"CASE sign WHEN 1 THEN sum(CASE WHEN sign = 1 THEN count END) {run}"
            f" WHEN -1 THEN sum(CASE WHEN sign = -1 THEN count END) {run} END AS cum",
            f"coalesce(sum(CASE WHEN sign = -1 THEN count END) {grp}, 0.0D) AS neg_total",
            f"coalesce(sum(CASE WHEN sign = 0 THEN count END) {grp}, 0.0D) AS zero_count",
            f"sum(count) {grp} AS total",
        )
        .selectExpr("*", f"explode(CAST(array({qs}) AS ARRAY<DOUBLE>)) AS q")
        .groupBy(*k, "q")
        .agg(F.expr(f"{est} AS est"))
    )


def ddsketch_quantiles_relational(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    config: DDSketchConfig | None = None,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """End-to-end: raw rows → bins → per-group quantiles.  One wide shuffle
    over (keys, sign, bucket); everything else touches only bin rows."""
    config = config or DDSketchConfig()
    bins = build_bins(df, value_col, keys, config, weight_col)
    return quantiles_from_bins(bins, keys, quantiles, config)


def summary_from_bins(
    bins: DataFrame, keys: Sequence[str], config: DDSketchConfig | None = None
) -> DataFrame:
    """Per-group count / approximate sum / min / max from bins
    (GetCount/GetSum/GetMinValue/GetMaxValue, ddsketch.go:208-267)."""
    config = config or DDSketchConfig()
    mapping = config.mapping()
    has_zero = "CASE WHEN sum(CASE WHEN sign = 0 THEN count END) > 0 THEN 0.0D END"

    def value_of(sign: int, agg: str) -> str:
        return bucket_value(f"{agg}(CASE WHEN sign = {sign} THEN bucket END)", mapping)

    return bins.groupBy(*keys).agg(
        F.expr("sum(count) AS count"),
        F.expr(f"round(sum({_signed_value_sql(mapping)} * count), 6) AS sum_approx"),
        F.expr(
            f"round(coalesce(-{value_of(-1, 'max')}, {has_zero}, {value_of(1, 'min')}), 6)"
            " AS min_approx"
        ),
        F.expr(
            f"round(coalesce({value_of(1, 'max')}, {has_zero}, -{value_of(-1, 'min')}), 6)"
            " AS max_approx"
        ),
    )


def _signed_value_sql(mapping) -> str:
    """SQL text of a bin row's signed representative value."""
    val = bucket_value("bucket", mapping)
    return f"CASE WHEN sign = 1 THEN {val} WHEN sign = -1 THEN -{val} ELSE 0.0D END"


# =====================================================================
# UDAF path — sketch as an encoded binary value
# =====================================================================
# Hidden column carrying a floating-point key's null flag into a Python
# stage: Arrow hands such a key's nulls to pandas as NaN, while Spark groups
# null and NaN apart.
_NULL_FLAG = "__sgs_null_{}"


def _with_null_flags(df: DataFrame, kcols: Sequence[str]) -> DataFrame:
    """``df`` plus the hidden null flag of each FLOAT/DOUBLE key; the key
    helpers below find the flags by name."""
    flags = [
        F.col(k).isNull().alias(_NULL_FLAG.format(k))
        for k in kcols
        if isinstance(df.schema[k].dataType, (DoubleType, FloatType))
    ]
    return df.select("*", *flags) if flags else df


def _group_cols(columns: Sequence[str], kcols: Sequence[str]) -> list[str]:
    """The keys, then the null flags among ``columns``: what a pandas
    groupby over the Python stage's rows must group on."""
    return list(kcols) + [f for f in map(_NULL_FLAG.format, kcols) if f in columns]


def _key_arrays(pdf: pd.DataFrame, kcols: Sequence[str]) -> list[np.ndarray]:
    """The arrays that decide key equality: each key, after its null flag
    where the frame carries one."""
    out = []
    for k in kcols:
        flag = _NULL_FLAG.format(k)
        if flag in pdf:
            out.append(pdf[flag].to_numpy(dtype=bool))
        out.append(pdf[k].to_numpy())
    return out


def _same_key(a: tuple, b: tuple) -> bool:
    """Equality of two rows of ``_key_arrays`` as Spark groups them: NaN
    equals NaN and -0.0 equals 0.0; pandas' nulls (None, NaN, NaT) are
    equal to each other, and the null flags keep a null float key apart
    from a NaN one."""
    return all(x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b))


def _run_starts(pdf: pd.DataFrame, kcols: Sequence[str], prev_key: tuple | None = None) -> np.ndarray:
    """Positions where a new key run starts in a key-sorted frame.  Row 0
    starts one unless it continues ``prev_key``, the last row of the
    previous frame's ``_key_arrays``."""
    new = np.zeros(len(pdf), dtype=bool)
    arrays = _key_arrays(pdf, kcols)
    for a in arrays:
        null = pd.isna(a)
        new[1:] |= (a[1:] != a[:-1]) & ~(null[1:] & null[:-1])
    new[0] = prev_key is None or not _same_key(prev_key, tuple(a[0] for a in arrays))
    return np.flatnonzero(new)


def _key_frame(frame: pd.DataFrame, kcols: Sequence[str], rows) -> pd.DataFrame:
    """The keys of ``frame[rows]`` as output columns.  A flagged floating
    key becomes a masked ``FloatingArray``, so the Arrow export keeps NaN
    apart from null, with -0.0 normalized to 0.0 as Spark's grouping does."""
    out = {}
    for k in kcols:
        a = frame[k].to_numpy()[rows]
        flag = _NULL_FLAG.format(k)
        if flag in frame:
            a = pd.arrays.FloatingArray(a + a.dtype.type(0), frame[flag].to_numpy(dtype=bool)[rows])
        out[k] = a
    return pd.DataFrame(out)


def _whole_runs(batches: Iterator[pd.DataFrame], kcols: Sequence[str]) -> Iterator[pd.DataFrame]:
    """Regroup a stream of key-sorted Arrow batches into frames that hold
    only whole key runs.  Only the last, possibly unfinished run of a batch
    is carried into the next one, so memory stays at one batch plus one
    group however many groups the partition holds."""
    pending: list[pd.DataFrame] = []
    prev_key = None
    for pdf in batches:
        if pdf.empty:
            continue
        starts = _run_starts(pdf, kcols, prev_key)
        prev_key = tuple(a[-1] for a in _key_arrays(pdf, kcols))
        if starts.size == 0:  # the whole batch continues the pending run
            pending.append(pdf)
            continue
        done = pending + [pdf.iloc[: starts[-1]]]
        pending = [pdf.iloc[starts[-1]:]]
        frame = pd.concat(done, ignore_index=True)
        if len(frame):
            yield frame
    if pending:
        yield pd.concat(pending, ignore_index=True)


def _blob_buffers(blobs: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A column of blobs as (data, offsets, valid) without a Python loop."""
    arr = pa.array(blobs, type=pa.large_binary())
    _, offsets, data = arr.buffers()
    offsets = np.frombuffer(offsets, dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    return data, offsets, ~arr.is_null().to_numpy(zero_copy_only=False)


def _sketch_rows(
    frame: pd.DataFrame,
    starts: np.ndarray,
    kcols: Sequence[str],
    data: np.ndarray,
    offsets: np.ndarray,
    out_col: str = "sketch",
) -> pd.DataFrame:
    """(keys..., sketch) rows: the key of each run start and its blob, the
    blobs given as one byte buffer and its int64 offsets."""
    blobs = pa.Array.from_buffers(
        pa.large_binary(), starts.size, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    out = _key_frame(frame, kcols, starts)
    out[out_col] = blobs.to_numpy(zero_copy_only=False)
    return out


def _sketches_from_bins(frame: pd.DataFrame, kcols: Sequence[str], config: DDSketchConfig) -> pd.DataFrame:
    """One blob per key run of an extended bins frame sorted by (keys,
    sign, bucket) with columns count, vw (sum of v*w), mn and mx: the
    bins become a DDSketchBatch (sign-0 rows its zero counts), collapse
    and encoding run once for the whole frame."""
    starts = _run_starts(frame, kcols)
    n_groups = starts.size
    group = np.repeat(np.arange(n_groups), np.diff(np.append(starts, len(frame))))
    sign = frame["sign"].to_numpy(dtype=np.int8)
    count = frame["count"].to_numpy(dtype=np.float64)
    zero = sign == 0
    bins = ~zero
    batch = DDSketchBatch(
        offsets=_offsets(group[bins], n_groups),
        sign=sign[bins],
        index=frame["bucket"].to_numpy(dtype=np.int64)[bins],
        count=count[bins],
        zero_count=np.bincount(group[zero], weights=count[zero], minlength=n_groups),
        exact_count=np.bincount(group, weights=count, minlength=n_groups),
        exact_sum=np.bincount(group, weights=frame["vw"].to_numpy(dtype=np.float64), minlength=n_groups),
        exact_min=np.minimum.reduceat(frame["mn"].to_numpy(dtype=np.float64), starts),
        exact_max=np.maximum.reduceat(frame["mx"].to_numpy(dtype=np.float64), starts),
        mappings=[config.mapping()],
        mapping_id=np.zeros(n_groups, dtype=np.int64),
    )
    return _sketch_rows(frame, starts, kcols, *encode_batch(batch.collapsed(config)))


# Buffered bin rows at which a partial build emits its blobs (an upper
# bound on the groups held).
_FLUSH_BIN_ROWS = 200_000


def ddsketch_partial(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | None = None,
    metrics=None,
) -> DataFrame:
    """Phase 1: partial sketches per (group x input-partition), built
    inside ``mapInPandas`` — the Arrow-side equivalent of map-side combine
    (applyInPandas alone would ship every raw row of a group to one task).

    Each Arrow batch reduces to an extended bins relation, (group, sign,
    bucket) → count, sum of v*w, min v, max v, with one C-path pandas
    groupby.  At ``_FLUSH_BIN_ROWS`` buffered bin rows the bins are
    re-aggregated and emitted as blobs through the batch encoder, and the
    merge stage folds a group's several partials.  Per-task memory is bounded whatever the key
    cardinality.

    Output: (keys..., sketch: binary).
    """
    return _pandas_build(
        df, value_col, keys, config or DDSketchConfig(), weight_col, metrics, _FLUSH_BIN_ROWS
    )


def _pandas_build(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig,
    weight_col: str | None,
    metrics,
    flush_rows: float,
) -> DataFrame:
    """The mapInPandas sketch build: blobs of the buffered extended bins,
    emitted whenever ``flush_rows`` bin rows are buffered and at the end
    of the partition."""
    mapping = config.mapping()
    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])
    cols = list(keys) + [value_col] + ([weight_col] if weight_col else [])
    kcols = list(keys)
    source = _with_null_flags(df.select(*cols), kcols)
    gcols = _group_cols(source.columns, kcols)

    def drain(parts: list[pd.DataFrame]) -> pd.DataFrame:
        bins = (
            pd.concat(parts, ignore_index=True)
            .groupby([*gcols, "sign", "bucket"], sort=True, dropna=False)
            .agg(count=("count", "sum"), vw=("vw", "sum"), mn=("mn", "min"), mx=("mx", "max"))
            .reset_index()
        )
        return _sketches_from_bins(bins, kcols, config)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts: list[pd.DataFrame] = []
        buffered = 0
        for pdf in batches:
            if pdf.empty:
                continue
            v = pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
            w = (
                pdf[weight_col].to_numpy(dtype=np.float64, na_value=0.0)
                if weight_col
                else np.ones(v.size)
            )
            keep = ~(np.isnan(v) | (v > mapping.max_indexable) | (v < -mapping.max_indexable))
            keep &= w > 0
            if not keep.all():
                v, w = v[keep], w[keep]
                pdf = pdf.loc[keep]
            if v.size == 0:
                continue
            pos = v > mapping.min_indexable
            neg = v < -mapping.min_indexable
            sign = np.where(pos, 1, np.where(neg, -1, 0)).astype(np.int8)
            bucket = np.zeros(v.size, dtype=np.int64)
            if pos.any():
                bucket[pos] = mapping.index(v[pos])
            if neg.any():
                bucket[neg] = mapping.index(-v[neg])
            # factorize string keys ONCE per batch and aggregate on the int
            # codes — an all-integer groupby is ~30% cheaper than hashing
            # python string objects per row (measured; the hot task of the
            # skewed repartition build runs this loop over ~8.7M rows).
            # Per-group accumulation order is unchanged (factorize preserves
            # row order, groupby reduces in occurrence order either way), so
            # the float sums are bit-identical to the direct-key groupby.
            codes, uniqs = {}, {}
            for k in gcols:
                codes[k], uniqs[k] = pd.factorize(
                    pdf[k].to_numpy(), use_na_sentinel=False
                )
            ccols = [f"_c_{k}" for k in gcols]
            frame = pd.DataFrame({c: codes[k] for c, k in zip(ccols, gcols)})
            frame["sign"] = sign
            frame["bucket"] = bucket
            frame["w"] = w
            frame["vw"] = v * w
            frame["v"] = v
            part = (
                frame.groupby([*ccols, "sign", "bucket"], sort=False, dropna=False)
                .agg(count=("w", "sum"), vw=("vw", "sum"), mn=("v", "min"), mx=("v", "max"))
                .reset_index()
            )
            for c, k in zip(ccols, gcols):
                part[k] = uniqs[k].take(part[c].to_numpy())
            parts.append(part[[*gcols, "sign", "bucket", "count", "vw", "mn", "mx"]])
            buffered += len(part)
            if buffered >= flush_rows:
                yield drain(parts)
                parts, buffered = [], 0
        if parts:
            yield drain(parts)

    if metrics is not None:
        from sketches_go_spark.plans.metrics import instrument_map_in_pandas

        build = instrument_map_in_pandas(build, metrics)
    return source.mapInPandas(build, schema=out_schema)


def ddsketch_merge(
    partials: DataFrame,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    metrics=None,
) -> DataFrame:
    """Phase 2: shuffle the (tiny) partials by group key and merge
    (MergeWith semantics, ddsketch.go:302-310).

    Implemented as repartition-by-key + sortWithinPartitions + a streaming
    mapInPandas pass — NOT applyInPandas, whose per-group invocation costs
    ~1 ms and dominates at high key cardinality.  Each batch of whole key
    runs is decoded at once (``decode_batch``), merged run by run
    (``DDSketchBatch.merge_runs``: bins, counts and the Kahan sum exactly
    as ``DDSketch.merge`` in partial order; a collapsing config folds each
    run's union once) and re-encoded at once."""
    config = config or DDSketchConfig()
    key_fields = [partials.schema[k] for k in keys]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])
    kcols = list(keys)

    def merge_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in _whole_runs(batches, kcols):
            starts = _run_starts(frame, kcols)
            batch = decode_batch(*_blob_buffers(frame["sketch"]), config=config)
            yield _sketch_rows(frame, starts, kcols, *encode_batch(batch.merge_runs(starts).collapsed(config)))

    if metrics is not None:
        from sketches_go_spark.plans.metrics import instrument_map_in_pandas

        merge_stream = instrument_map_in_pandas(merge_stream, metrics)
    shuffled = _with_null_flags(partials, kcols).repartition(*kcols).sortWithinPartitions(*kcols)
    return shuffled.mapInPandas(merge_stream, schema=out_schema)


def ddsketch_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | None = None,
    strategy: str = "bins",
    metrics=None,
) -> DataFrame:
    """Sketch aggregation: (keys..., sketch: binary).

    strategy='bins' (default): build the bins RELATIONALLY first (pure
    Catalyst, whole-stage codegen, map-side combined — the fastest build
    path), with the exact count/sum/min/max carried as three extra
    bin-level aggregates in the SAME single scan, then assemble the blobs
    from the tiny bins relation: key-run boundaries found with numpy, one
    batch encode per Arrow batch, only the last unfinished group carried
    across batches.  Arrow ships ``groups x buckets`` bin rows to Python
    instead of every raw row.  On the benchmark's per_conv workload (~2k
    groups of ~10 values, 4 cores) ``ddsketch_agg`` → ``with_quantiles``
    takes ~44 % less CPU than with 'combine' as the default and the
    per-sketch codec (README "UDAF blobs" has the A/B).

    strategy='combine': two-phase partial-per-partition → shuffle tiny
    encoded partials → merge.  The map-side combine shrinks the shuffle to
    ~groups x partitions blobs when groups repeat within input partitions.

    strategy='repartition': shuffle the raw (keys, value) rows once so each
    group lands wholly in one partition, then build the final sketches
    there in one pass — no merge stage, no decode.  A task holds its
    partition's bins until the partition ends."""
    config = config or DDSketchConfig()
    if strategy == "repartition":
        cols = [value_col] + ([weight_col] if weight_col else [])
        shuffled = df.select(*keys, *cols).repartition(*keys)
        # each group is whole in one task, so the build never flushes and
        # needs no merge stage
        return _pandas_build(shuffled, value_col, keys, config, weight_col, metrics, math.inf)
    if strategy == "combine":
        return ddsketch_merge(
            ddsketch_partial(df, value_col, keys, config, weight_col, metrics),
            keys,
            config,
            metrics,
        )
    if strategy != "bins":
        raise ValueError(f"unknown strategy {strategy!r}")
    return _ddsketch_agg_from_bins(df, value_col, keys, config, weight_col, metrics)


def _ddsketch_agg_from_bins(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig,
    weight_col: str | None = None,
    metrics=None,
) -> DataFrame:
    """strategy='bins' build: one Catalyst aggregation produces the bins
    relation EXTENDED with per-bin exact-stat partials (sum of v*w, min v,
    max v), so the exact summary re-aggregates from bins without a second
    scan of the raw data; the blobs are assembled from the sorted bins a
    batch of whole groups at a time."""
    mapping = config.mapping()
    value = F.col(value_col)
    sign, bucket = sign_bucket(value, mapping)
    weight = (
        F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    )
    v = value.cast("double")
    ext = (
        df.select(
            *keys,
            sign.alias("sign"),
            bucket.alias("bucket"),
            weight.alias("w"),
            v.alias("v"),
        )
        .where(F.col("sign").isNotNull() & (F.col("w") > 0))
        .groupBy(*keys, "sign", "bucket")
        .agg(
            F.sum("w").alias("count"),
            F.sum(F.col("v") * F.col("w")).alias("vw"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )
    kcols = list(keys)
    key_fields = [ext.schema[k] for k in kcols]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in _whole_runs(batches, kcols):
            yield _sketches_from_bins(frame, kcols, config)

    if metrics is not None:
        from sketches_go_spark.plans.metrics import instrument_map_in_pandas

        assemble = instrument_map_in_pandas(assemble, metrics)
    shuffled = (
        _with_null_flags(ext, kcols)
        .repartition(*kcols)
        .sortWithinPartitions(*kcols, "sign", "bucket")
    )
    return shuffled.mapInPandas(assemble, schema=out_schema)


def with_quantiles(
    sketches: DataFrame,
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    sketch_col: str = "sketch",
    clamp_exact: bool = False,
    prefix: str = "p",
    estimate_decimals: int | None = 6,
) -> DataFrame:
    """Append one estimate column per requested quantile.  A pandas UDF
    decodes each Arrow batch of blobs at once and extracts every quantile
    of every sketch in one vectorized pass (``DDSketchBatch.quantiles``,
    value for value ``DDSketch.quantiles``); null or empty sketches give
    NaN."""
    qs = [float(q) for q in quantiles]

    @F.pandas_udf(returnType=StructType(
        [StructField(f"_q{i}", DoubleType()) for i in range(len(qs))]
    ))
    def extract(blobs: pd.Series) -> pd.DataFrame:
        out = decode_batch(*_blob_buffers(blobs)).quantiles(qs, clamp_exact=clamp_exact)
        return pd.DataFrame({f"_q{i}": out[:, i] for i in range(len(qs))})

    def colname(q: float) -> str:
        pct = q * 100
        if float(pct).is_integer():
            return f"{prefix}{int(pct)}"
        return f"{prefix}{str(pct).replace('.', '_')}"

    def estimate(i: int) -> Column:
        c = F.col("_qs").getField(f"_q{i}")
        return c if estimate_decimals is None else F.round(c, estimate_decimals)

    tmp = sketches.withColumn("_qs", extract(F.col(sketch_col)))
    return tmp.withColumns({colname(q): estimate(i) for i, q in enumerate(qs)}).drop("_qs")


def with_summary(
    sketches: DataFrame, sketch_col: str = "sketch", estimate_decimals: int | None = 6
) -> DataFrame:
    """Append exact count/sum/min/max carried by the sketch
    (DDSketchWithExactSummaryStatistics surface, ddsketch.go:535-567)."""

    @F.pandas_udf(returnType=StructType(
        [
            StructField("cnt", DoubleType()),
            StructField("xsum", DoubleType()),
            StructField("xmin", DoubleType()),
            StructField("xmax", DoubleType()),
        ]
    ))
    def extract(blobs: pd.Series) -> pd.DataFrame:
        data, offsets, valid = _blob_buffers(blobs)
        b = decode_batch(data, offsets, valid)
        out = pd.DataFrame({
            "cnt": b.exact_count,
            "xsum": b.exact_sum,
            "xmin": np.where(np.isfinite(b.exact_min), b.exact_min, np.nan),
            "xmax": np.where(np.isfinite(b.exact_max), b.exact_max, np.nan),
        })
        out[~valid] = np.nan
        return out

    def stat(name: str) -> Column:
        c = F.col("_s").getField(name)
        return c if estimate_decimals is None or name == "cnt" else F.round(c, estimate_decimals)

    tmp = sketches.withColumn("_s", extract(F.col(sketch_col)))
    return tmp.withColumns({name: stat(name) for name in ("cnt", "xsum", "xmin", "xmax")}).drop("_s")


# =====================================================================
# reshape operators: rollup, reweight, change_mapping
# =====================================================================
def rollup_bins(
    bins: DataFrame, keys: Sequence[str], subset: Sequence[str]
) -> DataFrame:
    """Coarser-granularity bins from finer bins — the mergeability payoff:
    a per-(role, tool) bins relation re-aggregates to per-role or global
    WITHOUT touching the raw data (sum over the dropped keys).
    ``subset`` must be a subset of ``keys``; dropped keys disappear."""
    missing = [k for k in subset if k not in keys]
    if missing:
        raise ValueError(f"subset keys not in bins: {missing}")
    return bins.groupBy(*subset, "sign", "bucket").agg(
        F.sum("count").alias("count")
    )


def sliding_bins(
    bins: DataFrame,
    time_col: str,
    keys: Sequence[str],
    window: int,
) -> DataFrame:
    """Trailing-window bins from a per-period bins cube: for each period t,
    the bins of periods [t-window+1, t] — i.e. a MOVING sketch (7-day p95
    per day) computed entirely from the tiny cube, never rescanning raw
    data.  ``time_col`` must be an integer period (e.g. epoch day).

    Implementation: each cube row contributes to the ``window`` periods it
    serves, materialized with ``explode(sequence(t, t+window-1))`` and
    re-summed — a windowed sum over (sign, bucket) rows would silently DROP
    periods where a bucket had no same-day row (the missing-rows pitfall of
    sparse window aggregation).  Cost: window × cube rows, independent of
    the raw data size.  Output periods beyond the data's max period (the
    tail where a row still serves future windows) are included; filter to
    the observed range if undesired."""
    if window < 1:
        raise ValueError("window must be >= 1 period")
    t = F.col(time_col)
    served = F.explode(
        F.sequence(t, t + F.lit(int(window) - 1))
    ).alias(time_col)
    other = [k for k in keys if k != time_col]
    contrib = bins.select(
        served, *other, "sign", "bucket", "count"
    )
    return contrib.groupBy(time_col, *other, "sign", "bucket").agg(
        F.sum("count").alias("count")
    )


def winsorized_mean_from_bins(
    bins: DataFrame,
    keys: Sequence[str],
    quantiles: tuple[float, float] = (0.05, 0.95),
    config: DDSketchConfig | None = None,
    decimals: int = 6,
) -> DataFrame:
    """(keys..., wmean:double): mean with each bucket's representative value
    clamped into the group's [p_lo, p_hi] estimates — the outlier-robust
    mean, computed entirely from the bins relation (quantile cut points and
    the clamped weighted average both come from the same tiny cube; raw
    data is never rescanned)."""
    config = config or DDSketchConfig()
    mapping = config.mapping()
    lo, hi = quantiles
    qs = quantiles_from_bins(bins, keys, (lo, hi), config)
    lo_rel = qs.where(F.col("q") == lo).select(*keys, F.col("est").alias("v_lo"))
    hi_rel = qs.where(F.col("q") == hi).select(*keys, F.col("est").alias("v_hi"))
    sv = F.expr(_signed_value_sql(mapping))
    j = bins.join(F.broadcast(lo_rel), list(keys)).join(
        F.broadcast(hi_rel), list(keys)
    )
    clamped = F.least(F.greatest(sv, F.col("v_lo")), F.col("v_hi"))
    return j.groupBy(*keys).agg(
        F.round(
            F.sum(clamped * F.col("count")) / F.sum("count"), decimals
        ).alias("wmean")
    )


def bins_psi(
    bins_a: DataFrame,
    bins_b: DataFrame,
    keys: Sequence[str],
    eps: float = 1e-6,
    decimals: int = 6,
) -> DataFrame:
    """(keys..., psi:double): Population Stability Index between two bins
    relations over the same mapping — the standard distribution-drift score,
    computed entirely from the tiny cubes (never rescanning raw data):

        psi = Σ_buckets (p' − q') · ln(p'/q'),  p' = max(p, eps)

    where p/q are each side's bucket mass fractions.  Buckets present on one
    side only contribute with the eps floor (the classic smoothing).  Rule
    of thumb: psi < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 major shift.
    One full-outer join of two (groups × buckets) relations — O(cube)."""
    def _norm(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy(*keys)
        return df.select(
            *keys, "sign", "bucket",
            (F.col("count") / F.sum("count").over(w)).alias(out),
        )
    a = _norm(bins_a, "p")
    b = _norm(bins_b, "q")
    j = a.join(b, [*keys, "sign", "bucket"], "full_outer").select(
        *keys,
        F.greatest(F.coalesce("p", F.lit(0.0)), F.lit(float(eps))).alias("p"),
        F.greatest(F.coalesce("q", F.lit(0.0)), F.lit(float(eps))).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return j.groupBy(*keys).agg(
        F.round(F.sum(term), decimals).alias("psi")
    )


def bins_ks(
    bins_a: DataFrame,
    bins_b: DataFrame,
    keys: Sequence[str],
    decimals: int = 6,
) -> DataFrame:
    """(keys..., ks:double): two-sample Kolmogorov–Smirnov statistic between
    two bins relations over the same mapping — the max absolute CDF gap at
    any bucket boundary, the location-sensitive drift score PSI's
    mass-ratio view misses (PSI saturates on disjoint supports; KS tells
    you WHERE the distributions diverge is bounded by how much).

    Buckets are walked in VALUE order — ``(sign asc, sign*bucket asc)``:
    within sign=-1 a larger bucket index is a more negative value, so the
    composite key linearizes negatives/zero/positives correctly.  One
    full-outer join of the two cubes + one window cumsum — O(cube), raw
    data never rescanned, and the fixed walk order makes the float
    accumulation bit-reproducible cross-engine."""
    def _norm(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy(*keys)
        return df.select(
            *keys, "sign", "bucket",
            (F.col("count") / F.sum("count").over(w)).alias(out),
        )

    a = _norm(bins_a, "fa")
    b = _norm(bins_b, "fb")
    j = a.join(b, [*keys, "sign", "bucket"], "full_outer").select(
        *keys, "sign", "bucket",
        F.coalesce("fa", F.lit(0.0)).alias("fa"),
        F.coalesce("fb", F.lit(0.0)).alias("fb"),
    )
    worder = (
        Window.partitionBy(*keys)
        .orderBy(F.col("sign").asc(), (F.col("sign") * F.col("bucket")).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.abs(F.sum("fa").over(worder) - F.sum("fb").over(worder))
    return (
        j.withColumn("_gap", gap)
        .groupBy(*keys)
        .agg(F.round(F.max("_gap"), decimals).alias("ks"))
    )


def reweight_bins(bins: DataFrame, w: float) -> DataFrame:
    """Scale every count by w > 0 — distribution-invariant
    (ddsketch.go:514-529)."""
    if w <= 0:
        raise ValueError("can't reweight by a negative or zero factor")
    return bins.withColumn("count", F.col("count") * F.lit(float(w)))


def change_mapping_bins(
    bins: DataFrame,
    keys: Sequence[str],
    old_config: DDSketchConfig,
    new_config: DDSketchConfig,
    scale_factor: float = 1.0,
    count_decimals: int | None = 6,
) -> DataFrame:
    """Re-bucket a bins relation onto a new mapping, splitting each old
    bucket's value interval proportionally (by overlap) across the new
    buckets (ChangeMapping, ddsketch.go:483-510) — enables merging sketches
    built with different alphas.

    Pure Catalyst: sequence() generates each old bucket's target range,
    explode fans out, overlap fractions weight the counts, and a final
    groupBy re-aggregates.  The zero bucket (sign=0) passes through (scaled
    interval still contains 0)."""
    from sketches_go_spark.core.mapping import LogarithmicMapping

    mo = old_config.mapping()
    mn = new_config.mapping()
    if not isinstance(mo, LogarithmicMapping) or not isinstance(mn, LogarithmicMapping):
        raise NotImplementedError(
            "change_mapping_bins implements the exp/ln interval split for "
            "logarithmic mappings only; interpolated mappings must go through "
            "the UDAF path (DDSketch.change_mapping)"
        )
    s = float(scale_factor)
    lo = F.exp(
        (F.col("bucket").cast("double") - F.lit(mo.index_offset)) / F.lit(mo.multiplier)
    ) * F.lit(s)
    hi = F.exp(
        ((F.col("bucket") + 1).cast("double") - F.lit(mo.index_offset))
        / F.lit(mo.multiplier)
    ) * F.lit(s)
    jlo = F.floor(F.log(lo) * F.lit(mn.multiplier) + F.lit(mn.index_offset)).cast("int")
    jhi = F.floor(F.log(hi) * F.lit(mn.multiplier) + F.lit(mn.index_offset)).cast("int")

    nonzero = bins.where(F.col("sign") != 0).select(
        *keys,
        "sign",
        "count",
        lo.alias("_lo"),
        hi.alias("_hi"),
        F.explode(F.sequence(jlo, jhi)).alias("new_bucket"),
    )
    nb_lo = F.exp(
        (F.col("new_bucket").cast("double") - F.lit(mn.index_offset))
        / F.lit(mn.multiplier)
    )
    nb_hi = F.exp(
        ((F.col("new_bucket") + 1).cast("double") - F.lit(mn.index_offset))
        / F.lit(mn.multiplier)
    )
    overlap = F.least(nb_hi, F.col("_hi")) - F.greatest(nb_lo, F.col("_lo"))
    split = (
        nonzero.withColumn("_ov", overlap)
        .where(F.col("_ov") > 0)
        .select(
            *keys,
            "sign",
            F.col("new_bucket").alias("bucket"),
            (F.col("count") * F.col("_ov") / (F.col("_hi") - F.col("_lo"))).alias(
                "count"
            ),
        )
    )
    zero = bins.where(F.col("sign") == 0).select(*keys, "sign", "bucket", "count")
    out = (
        split.unionByName(zero)
        .groupBy(*keys, "sign", "bucket")
        .agg(F.sum("count").alias("count"))
    )
    if count_decimals is not None:
        out = out.withColumn("count", F.round(F.col("count"), count_decimals))
    return out


def sketch_to_bins(
    sketches: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Explode encoded sketch values back into the relational bins shape
    (keys..., sign, bucket, count) — the ForEach/Bins surface
    (ddsketch.go:283-298) and the bridge from the UDAF path into every
    bins-relational operator (quantiles_from_bins, rollup, change_mapping)."""
    key_fields = [sketches.schema[k] for k in keys]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("sign", IntegerType()),
            StructField("bucket", IntegerType()),
            StructField("count", DoubleType()),
        ]
    )
    kcols = list(keys)

    def explode_bins(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one batch decode per Arrow batch: the bins are already flat, each
        # sketch's nonzero zero count adds one (sign 0, bucket 0) row
        for pdf in batches:
            b = decode_batch(*_blob_buffers(pdf[sketch_col]))
            has_zero = np.flatnonzero(b.zero_count != 0)
            row = np.concatenate([np.repeat(np.arange(b.size), np.diff(b.offsets)), has_zero])
            if row.size == 0:
                continue
            order = np.argsort(row, kind="stable")
            out = pd.DataFrame({k: pdf[k].to_numpy()[row[order]] for k in kcols})
            out["sign"] = np.concatenate([b.sign, np.zeros(has_zero.size, np.int8)]).astype(np.int32)[order]
            out["bucket"] = np.concatenate([b.index, np.zeros(has_zero.size, np.int64)]).astype(np.int32)[order]
            out["count"] = np.concatenate([b.count, b.zero_count[has_zero]])[order]
            yield out

    return sketches.mapInPandas(explode_bins, schema=out_schema)


def with_quantile_rank(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    out_col: str = "qrank",
) -> DataFrame:
    """Per-row quantile-rank (CDF) transform — quantile NORMALIZATION at
    100 TB without a global sort: every row gains ``out_col`` = estimated
    fraction of its group's mass at-or-below its own value (the complement
    view of GetValueAtQuantile; ddsketch.go:166-190's rank walk applied
    row-wise).  The standard ML feature-preprocessing step (map a skewed
    column to ~uniform [0,1]) and the screen for "where does this row sit".

    Scale shape: ONE bins aggregation (map-side combined), a value-order
    cumulative sum over the TINY bins relation (ORDER BY sign, sign*bucket —
    the same walk as the KS drift query), then the cumulative relation is
    BROADCAST back and joined on (keys, sign, bucket), which every row
    computes from the same Catalyst mapping twin that built the bins.  No
    shuffle of the data rows at all.  Rows the sketch would reject
    (NaN/NULL/out-of-range) are dropped, mirroring build_bins.

    Exactness: counts are exact integer-valued doubles, the cumulative walk
    is identically ordered on every engine, and the single division is
    correctly rounded — rounded to 6 decimals, the DuckDB oracle reproduces
    the column bit-for-bit."""
    config = config or DDSketchConfig()
    if config.max_bins > 0:
        raise ValueError(
            "with_quantile_rank requires a non-collapsing config: rows are "
            "tagged with their UNclamped bucket and would miss collapsed bins"
        )
    m = config.mapping()
    reserved = {"_sg", "_bk", out_col} & set(df.columns)
    if reserved:
        raise ValueError(
            "df must not carry columns named "
            + ", ".join(sorted(reserved))
            + " (reserved for with_quantile_rank)"
        )
    bins = build_bins(df, value_col, keys, config)
    worder = (
        Window.partitionBy(*keys)
        .orderBy(F.col("sign"), F.col("sign") * F.col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    cum = bins.select(
        *keys,
        F.col("sign").alias("_sg"),
        F.col("bucket").alias("_bk"),
        F.round(
            F.sum("count").over(worder) / F.sum("count").over(wall), 6
        ).alias(out_col),
    )
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sign, bucket = sign_bucket(value, m)
    # no explicit isNotNull filter: the INNER join drops NULL-tagged
    # (rejected) rows itself, and an explicit .where would be pushed down
    # with the full sign/bucket CASE chain re-substituted into the Filter —
    # Catalyst does not CSE across Filter/Project, so the heavy mapping
    # expression would evaluate several times per row (measured ~2x the
    # row-side stage cost at 100M rows)
    tagged = df.withColumn("_sg", sign).withColumn("_bk", bucket)
    return tagged.join(
        F.broadcast(cum), [*keys, "_sg", "_bk"]
    ).drop("_sg", "_bk")
