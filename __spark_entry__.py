"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-dialect SQL computing the IDENTICAL algorithm for
each query, for the driver's value-hash comparison at sf0.01.

Sketch estimates are approximate relative to the *true* quantiles, but fully
deterministic given the algorithm — so the oracle re-executes the algorithm
itself (same literals, same operation order, integer counts), not the exact
answer.  Estimates are rounded to 6 decimals on both sides to absorb last-ulp
libm differences between the JVM and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sketches_go_spark.core.ddsketch import DDSketchConfig
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.functions import oracles
from sketches_go_spark.functions import sketch_fns as sk
from sketches_go_spark.operators import assemble as ops_assemble
from sketches_go_spark.operators import bpe as ops_bpe
from sketches_go_spark.operators import dedup
from sketches_go_spark.operators import multimodal as mm
from sketches_go_spark.operators import oracles_pipeline as opl
from sketches_go_spark.operators import packing
from sketches_go_spark.operators import sampling
from sketches_go_spark.operators import similarity as sim
from sketches_go_spark.operators import temporal
from sketches_go_spark.operators import text as ops_text
from sketches_go_spark.sources.transcripts import transcripts_from_events, transcripts_sql

ALPHA = 0.01
CFG = DDSketchConfig(alpha=ALPHA)
QS = (0.5, 0.95, 0.99)
PIVOT = {"p50": 0.5, "p95": 0.95, "p99": 0.99}

_TRANSCRIPTS = f"({transcripts_sql('events')})"


# --------------------------------------------------------------------- inputs
def _text_len_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return t.select("role", F.length("text").cast("double").alias("v"))


_TEXT_LEN_MEASURE_SQL = (
    f"SELECT role, cast(length(text) AS double) AS v FROM {_TRANSCRIPTS} t"
)


def _latency_by_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # ts arrives as TIMESTAMP_NTZ from parquet; cast for unix_micros — any
    # session-tz offset cancels in the lag difference
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    lat = (micros - F.lag(micros).over(w)).cast("double") / F.lit(1000000.0)
    return (
        t.select("tool", lat.alias("v"))
        .where(F.col("tool").isNotNull() & F.col("v").isNotNull())
    )


_LATENCY_MEASURE_SQL = f"""
SELECT tool, v FROM (
  SELECT tool,
         cast(epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY conv_id ORDER BY turn_idx) AS double) / 1000000.0 AS v
  FROM {_TRANSCRIPTS} t
) WHERE tool IS NOT NULL AND v IS NOT NULL
"""

_EVENT_VALUE_MEASURE_SQL = (
    "SELECT event_type, cast(value AS double) AS v FROM events"
)


def _events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select("event_type", F.col("value").cast("double").alias("v"))


# -------------------------------------------------------------------- queries
def q_ddsketch_quantiles_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DDSketch path: p50/p95/p99 of events.value per event_type."""
    return dd.quantiles_from_bins(
        dd.build_bins(_events_value(spark, sf_dir), "v", ["event_type"], CFG),
        ["event_type"],
        QS,
        CFG,
    ).orderBy("event_type", "q")


CFG_LINEAR = DDSketchConfig(alpha=ALPHA, interpolation="linear")
CFG_CUBIC = DDSketchConfig(alpha=ALPHA, interpolation="cubic")


def q_ddsketch_linear_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational path under the LinearlyInterpolatedMapping Catalyst twin
    (exact-frexp decomposition; bit-identical buckets to the numpy core —
    parity: linearly_interpolated_mapping.go:71-99)."""
    return dd.quantiles_from_bins(
        dd.build_bins(_events_value(spark, sf_dir), "v", ["event_type"], CFG_LINEAR),
        ["event_type"],
        QS,
        CFG_LINEAR,
    ).orderBy("event_type", "q")


def q_ddsketch_cubic_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational path under the CubicallyInterpolatedMapping Catalyst twin
    (cubic-polynomial log2 approx + Cardano inverse — parity:
    cubically_interpolated_mapping.go:78-124)."""
    return dd.quantiles_from_bins(
        dd.build_bins(_events_value(spark, sf_dir), "v", ["event_type"], CFG_CUBIC),
        ["event_type"],
        QS,
        CFG_CUBIC,
    ).orderBy("event_type", "q")


def q_ddsketch_textlen_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of length(text) per role over the transcripts derivation."""
    return dd.ddsketch_quantiles_relational(
        _text_len_by_role(spark, sf_dir), "v", ["role"], QS, CFG
    ).orderBy("role", "q")


def q_ddsketch_latency_by_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-turn latency quantiles per tool (ts deltas over the conv window)."""
    return dd.ddsketch_quantiles_relational(
        _latency_by_tool(spark, sf_dir), "v", ["tool"], QS, CFG
    ).orderBy("tool", "q")


_REPLY_LATENCY_MEASURE_SQL = f"""SELECT strftime(ts, '%Y-%m-%d') AS day,
       cast(gap AS double) / 1000000.0 AS v
FROM (
  SELECT ts, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
  FROM {_TRANSCRIPTS}
)
WHERE prev_role = 'user' AND role = 'assistant' AND gap > 0"""


def q_ddsketch_reply_latency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UX metric: daily p50/p95/p99 of user->assistant REPLY latency
    (seconds — µs/1e6 double division, IEEE-equal cross-engine and small
    enough that the 6-decimal estimate rounding absorbs ulps) — lag pairs on
    the shared conv_id window, filtered to the user->assistant adjacency,
    sketched per day.  One conv_id exchange for the lag, then only
    (day, sign, bucket) bin rows move."""
    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = t.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("role"),
        F.lag("role").over(w).alias("_prev_role"),
        ((tsu - F.lag(tsu).over(w)).cast("double") / F.lit(1000000.0)).alias(
            "v"
        ),
    ).where(
        (F.col("_prev_role") == "user")
        & (F.col("role") == "assistant")
        & (F.col("v") > 0)
    )
    return dd.quantiles_from_bins(
        dd.build_bins(gaps, "v", ["day"], CFG), ["day"], QS, CFG
    ).orderBy("day", "q")


_CONV_DURATION_MEASURE_SQL = (
    "SELECT arg_min(role, turn_idx) AS first_role, "
    "cast(max(epoch_us(ts)) - min(epoch_us(ts)) AS double) / 1000000.0 AS v "
    f"FROM {_TRANSCRIPTS} GROUP BY conv_id"
)


def q_ddsketch_conv_duration_by_first_role(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversation-LEVEL sketch rollup: p50/p95/p99 of per-conversation
    wall-clock duration (seconds) grouped by the conversation's opening role
    — a two-level aggregation (turns -> conversation features -> sketch) both
    keyed small: the first shuffle carries one row per conversation, the
    second one bins row per (first_role, bucket).  Single-turn conversations
    land in the sketch's zero bucket (duration 0) — the exact zero-count
    path, not a dropped row."""
    t = transcripts_from_events(spark, sf_dir)
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    conv = t.groupBy("conv_id").agg(
        F.min_by("role", "turn_idx").alias("first_role"),
        ((F.max(tsu) - F.min(tsu)).cast("double") / F.lit(1000000.0)).alias("v"),
    )
    return dd.ddsketch_quantiles_relational(
        conv.select("first_role", "v"), "v", ["first_role"], QS, CFG
    ).orderBy("first_role", "q")


def q_ddsketch_bins_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw bins relation (sign, bucket, count) per role — the exact
    sketch state, strongest oracle (all-integer comparison)."""
    bins = dd.build_bins(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    return bins.select(
        "role", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("role", "sign", "bucket")


_CDF_THRESHOLDS = (1, 10, 100)


def q_ddsketch_cdf_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-quantile (CDF / rank) estimates from the bins relation: the
    estimated fraction of values <= t is the mass of buckets whose index is
    <= index(t), plus all negative/zero mass.  Derived purely from the same
    sum-monoid bins every quantile query maintains — no new state, one
    aggregation; the thresholds' bucket indexes are computed once driver-side
    from the mapping (the complement of KeyAtRank, ddsketch.go:436-469)."""
    bins = dd.build_bins(_events_value(spark, sf_dir), "v", ["event_type"], CFG)
    m = CFG.mapping()
    total = F.sum("count")
    aggs = []
    for t in _CDF_THRESHOLDS:
        it = int(m.index_scalar(float(t)))
        mass = F.sum(
            F.when(
                (F.col("sign") < 1)
                | ((F.col("sign") == 1) & (F.col("bucket") <= F.lit(it))),
                F.col("count"),
            ).otherwise(F.lit(0.0))
        )
        aggs.append(F.round(mass / total, 6).alias(f"frac_le_{t}"))
    return bins.groupBy("event_type").agg(*aggs).orderBy("event_type")


def q_ddsketch_quantile_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row quantile NORMALIZATION from the sketch: every event gains its
    estimated within-group CDF position (fraction of the event_type's mass
    at-or-below its value) — the ML feature-preprocessing step, done with
    ONE bins aggregation + a broadcast join back onto the rows; the data
    rows never shuffle (functions/ddsketch_fns.py::with_quantile_rank)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", F.col("value").cast("double").alias("v")
    )
    return dd.with_quantile_rank(ev, "v", ["event_type"], CFG).orderBy(
        "event_id"
    )


def q_ddsketch_summary_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count / approx sum / approx min / approx max per role from bins."""
    bins = dd.build_bins(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    return dd.summary_from_bins(bins, ["role"], CFG).orderBy("role")


def q_ddsketch_udaf_textlen_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF path: same quantiles as the relational path, via the
    encoded-sketch value column."""
    sketches = dd.ddsketch_agg(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    out = dd.with_summary(dd.with_quantiles(sketches, QS, prefix="p"))
    return out.select("role", "cnt", "p50", "p95", "p99").orderBy("role")


def q_ddsketch_udaf_bins_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF build's relational bins + single-scan exact-stat partials,
    assembled into encoded blobs and read back through the summary and
    quantile UDFs (same oracle as the relational path)."""
    sketches = dd.ddsketch_agg(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    out = dd.with_summary(dd.with_quantiles(sketches, QS, prefix="p"))
    return out.select("role", "cnt", "p50", "p95", "p99").orderBy("role")


def q_sql_api_textlen_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-SQL surface: registered grouped-agg sketch functions callable
    from spark.sql text (functions/sql_api.py).  Same core DDSketch under
    the hood, so the oracle is the identical algorithm replay as the UDAF
    queries.  Ergonomic path for SQL-only consumers — the 100-TB path
    remains the relational bins / two-phase ddsketch_agg."""
    from sketches_go_spark.functions.sql_api import register_sql_functions

    register_sql_functions(spark, alpha=ALPHA)
    _text_len_by_role(spark, sf_dir).createOrReplaceTempView("sgs_sql_api_src")
    # grouped-agg pandas UDFs cannot share a GROUP BY with built-in
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — join the two aggregations
    return spark.sql(
        """
        SELECT s.role, c.cnt, s.p50, s.p95, s.p99
        FROM (
          SELECT role,
                 round(sgs_ddsketch_p50(v), 6) AS p50,
                 round(sgs_ddsketch_p95(v), 6) AS p95,
                 round(sgs_ddsketch_p99(v), 6) AS p99
          FROM sgs_sql_api_src GROUP BY role
        ) s
        JOIN (
          SELECT role, cast(count(v) AS double) AS cnt
          FROM sgs_sql_api_src GROUP BY role
        ) c USING (role)
        ORDER BY role
        """
    ).select("role", "cnt", "p50", "p95", "p99")


def q_ddsketch_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf interop: the UDAF sketches converted to pb.DDSketch bytes and
    back (core/protobuf.py), then queried — quantiles and count must be
    unchanged, so the oracle is the same algorithm replay as the UDAF query.
    Exercises ToProto/FromProto (ddsketch.go:313-364) end to end on Spark."""
    from sketches_go_spark.functions import proto_fns

    sketches = dd.ddsketch_agg(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    back = sketches.select(
        "role", proto_fns.from_proto(proto_fns.to_proto(F.col("sketch"))).alias("sketch")
    )
    out = dd.with_summary(dd.with_quantiles(back, QS, prefix="p"))
    return out.select("role", "cnt", "p50", "p95", "p99").orderBy("role")


def q_ddsketch_collapsed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsing-lowest store (max_bins=32) over latencies — bounded-memory
    semantics, relationally."""
    cfg = DDSketchConfig(alpha=ALPHA, max_bins=32, collapse="lowest")
    bins = dd.build_bins(_latency_by_tool(spark, sf_dir), "v", ["tool"], cfg)
    return bins.select(
        "tool", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("tool", "sign", "bucket")


def q_ddsketch_collapsed_highest_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsing-HIGHEST store (max_bins=32) over latencies — the mirror
    bounded-memory semantics (collapsing_highest_dense_store.go), relationally."""
    cfg = DDSketchConfig(alpha=ALPHA, max_bins=32, collapse="highest")
    bins = dd.build_bins(_latency_by_tool(spark, sf_dir), "v", ["tool"], cfg)
    return bins.select(
        "tool", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("tool", "sign", "bucket")


_WEIGHTED_EVENT_MEASURE_SQL = (
    "SELECT event_type, cast(value AS double) AS v,"
    " cast(((user_id % 5) + 5) % 5 + 1 AS double) AS w FROM events"
)


def q_ddsketch_weighted_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted build (AddWithCount, ddsketch.go:124-145): per-row weight
    (user_id mod 5) + 1 summed into the bins instead of unit counts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        (F.pmod("user_id", F.lit(5)) + 1).cast("double").alias("w"),
    )
    bins = dd.build_bins(ev, "v", ["event_type"], CFG, weight_col="w")
    return bins.select(
        "event_type", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("event_type", "sign", "bucket")


def _text_len_by_role_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    return t.select(
        "role",
        F.coalesce(F.col("tool"), F.lit("none")).alias("tool"),
        F.length("text").cast("double").alias("v"),
    )


_TEXT_LEN_ROLE_TOOL_SQL = (
    "SELECT role, coalesce(tool, 'none') AS tool, cast(length(text) AS double) AS v "
    f"FROM {_TRANSCRIPTS} t"
)


def q_ddsketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability rollup: per-(role, tool) bins re-aggregated to per-role
    WITHOUT re-reading the raw data — must equal bins built at role level."""
    fine = dd.build_bins(_text_len_by_role_tool(spark, sf_dir), "v", ["role", "tool"], CFG)
    coarse = dd.rollup_bins(fine, ["role", "tool"], ["role"])
    return coarse.select(
        "role", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("role", "sign", "bucket")


def q_ddsketch_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reweight: every count scaled by 2.5 (distribution-invariant,
    ddsketch.go:514-529)."""
    bins = dd.build_bins(_text_len_by_role(spark, sf_dir), "v", ["role"], CFG)
    return dd.reweight_bins(bins, 2.5).select(
        "role", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("role", "sign", "bucket")


_CHANGE_MAP_NEW = DDSketchConfig(alpha=0.025)


def q_ddsketch_change_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChangeMapping: alpha 0.01 bins re-bucketed onto an alpha 0.025 mapping
    by proportional interval overlap (ddsketch.go:483-510)."""
    bins = dd.build_bins(_latency_by_tool(spark, sf_dir), "v", ["tool"], CFG)
    out = dd.change_mapping_bins(bins, ["tool"], CFG, _CHANGE_MAP_NEW)
    return out.select(
        "tool", "sign", "bucket", F.col("count").alias("cnt")
    ).orderBy("tool", "sign", "bucket")


def q_ddsketch_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time rollup: p50/p95 of events.value per (day, event_type) —
    the batch twin of the streaming windowed aggregation (bins keyed on the
    truncated event time compose with every bins operator)."""
    # day as a string: tz-free (ts is TIMESTAMP_NTZ in the parquet, and
    # engines disagree on timestamp rendering across session timezones)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    return dd.ddsketch_quantiles_relational(
        ev, "v", ["day", "event_type"], (0.5, 0.95), CFG
    ).orderBy("day", "event_type", "q")


def q_sketch_warehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-warehouse sink/source under the correctness gate: UDAF
    sketches written as a partitioned parquet warehouse (byte-exact binary
    blobs), read back, and queried — quantiles and count must equal the
    direct UDAF result, so the oracle is the same pivot replay.  This is the
    store-now-query-later mode mergeability exists for."""
    import hashlib
    import shutil

    from sketches_go_spark.sources.io import read_sketches, write_sketches

    sketches = dd.ddsketch_agg(
        _text_len_by_role(spark, sf_dir), "v", ["role"], CFG
    )
    path = "/tmp/sgs_wh_v1_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    write_sketches(sketches, path, partition_by=["role"])
    back = read_sketches(spark, path)
    out = dd.with_summary(dd.with_quantiles(back, QS, prefix="p"))
    return out.select("role", "cnt", "p50", "p95", "p99").orderBy("role")


def q_source_csv_textlen_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV landing-format reader under the correctness gate: transcripts
    written as RFC-4180 CSV (multiLine + quote escaping — hostile text with
    newlines/quotes/commas round-trips losslessly) and read back with the
    ENFORCED input_hint schema, then sketched.  Hash-matching the same
    oracle as the parquet-path query IS the per-turn text-equality claim."""
    import hashlib
    import os
    import shutil

    from sketches_go_spark.sources.io import read_transcripts, write_transcripts

    t = transcripts_from_events(spark, sf_dir)
    stage = "/tmp/sgs_csv_src_v1_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # reuse only a COMPLETE (Spark _SUCCESS) and FRESH (source-fingerprint
    # marker) stage; a partial dir from a crashed writer is rebuilt via
    # write-to-temp + atomic rename so truncated data can never feed the
    # correctness gate, and a regenerated events.parquet restages
    src_fp = _src_fingerprint(f"{sf_dir}/events.parquet")
    if not (
        os.path.exists(os.path.join(stage, "_SUCCESS"))
        and _stage_is_fresh(stage, "_FRESH", src_fp)
    ):
        tmp = f"{stage}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_transcripts(t, tmp, fmt="csv")
        _write_stage_marker(tmp, "_FRESH", src_fp)
        shutil.rmtree(stage, ignore_errors=True)
        os.replace(tmp, stage)
    back = read_transcripts(spark, stage, fmt="csv")
    src = back.select("role", F.length("text").cast("double").alias("v"))
    return dd.ddsketch_quantiles_relational(
        src, "v", ["role"], QS, CFG
    ).orderBy("role", "q")


def q_ddsketch_grouping_sets_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches compose with GROUPING SETS (SURVEY §2.9): quantiles at BOTH
    the (role, tool) and (role) grains from ONE aggregation pass — the bins
    relation is grouping-set-compatible because bins are a sum-monoid, so
    the coarser grain's bins are exactly the finer grain's re-summed."""
    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    src = t.select(
        "role", "tool", F.length("text").cast("double").alias("v")
    )
    bins = dd.build_bins(src, "v", ["role", "tool"], CFG)
    multi = bins.groupingSets(
        [["role", "tool", "sign", "bucket"], ["role", "sign", "bucket"]],
        "role", "tool", "sign", "bucket",
    ).agg(F.sum("count").alias("count"))
    lab = multi.select(
        F.col("role"),
        F.coalesce("tool", F.lit("ALL")).alias("tool"),
        "sign", "bucket", "count",
    )
    return dd.quantiles_from_bins(lab, ["role", "tool"], QS, CFG).orderBy(
        "role", "tool", "q"
    )


_CUBE_LO, _CUBE_HI = "2024-01-08", "2024-01-21"
_PSI_B_LO, _PSI_B_HI = "2024-01-22", "2024-02-04"


def q_ddsketch_mad_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion via TWO sketch passes: per-group approximate median
    (pass 1), then the median of |value − median| (pass 2) — the MAD,
    composed entirely from relational sketch builds (each pass is one
    scan + one bins shuffle; the tiny median relation broadcasts back).
    Output (event_type, med, mad)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = dd.ddsketch_quantiles_relational(
        ev, "v", ["event_type"], (0.5,), CFG
    ).select("event_type", F.col("est").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("v") - F.col("med")).alias("d")
    )
    mad = dd.ddsketch_quantiles_relational(
        dev, "d", ["event_type"], (0.5,), CFG
    ).select("event_type", F.col("est").alias("mad"))
    return med.join(mad, "event_type").orderBy("event_type")


def q_ddsketch_outlier_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-GATED row filtering — the monitoring pattern where a tiny
    cube relation polices a huge stream: robust per-group thresholds
    (median + 3·MAD, both from relational sketch passes) broadcast back
    onto the raw relation; labeling adds ZERO shuffles to the raw rows
    (broadcast join + map-side aggregation).  Output (event_type, n,
    n_outliers, outlier_rate)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = dd.ddsketch_quantiles_relational(
        ev, "v", ["event_type"], (0.5,), CFG
    ).select("event_type", F.col("est").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("v") - F.col("med")).alias("d")
    )
    mad = dd.ddsketch_quantiles_relational(
        dev, "d", ["event_type"], (0.5,), CFG
    ).select("event_type", F.col("est").alias("mad"))
    thr = med.join(mad, "event_type").select(
        "event_type", (F.col("med") + F.lit(3.0) * F.col("mad")).alias("thr")
    )
    return (
        ev.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v") > F.col("thr"), 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n"), 6).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


def q_ddsketch_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend of the daily p95 per event_type: ordinary-least-squares slope
    over the (day, p95) points that the bins cube yields — drift DIRECTION
    and rate, composed from the same tiny relation as every other cube
    query.  Slope in value-units per day; explicit-sums OLS so the oracle
    replays the identical arithmetic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_date(F.to_date(F.col("ts"))).alias("day_i"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    daily = dd.ddsketch_quantiles_relational(
        ev, "v", ["day_i", "event_type"], (0.95,), CFG
    ).select(
        F.col("event_type"),
        F.col("day_i").cast("double").alias("x"),
        F.col("est").alias("y"),
    )
    agg = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        "event_type",
        F.col("n").cast("int").alias("n_days"),
        F.round(slope, 6).alias("p95_slope_per_day"),
    ).orderBy("event_type")


def q_ddsketch_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust mean per event_type: bucket values clamped into the
    group's [p05, p95] — cut points AND the clamped weighted average both
    from the same bins cube, no raw rescan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    bins = dd.build_bins(ev, "v", ["event_type"], CFG)
    return dd.winsorized_mean_from_bins(
        bins, ["event_type"], (0.05, 0.95), CFG
    ).orderBy("event_type")


def q_ddsketch_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution DRIFT between two periods per event_type — Population
    Stability Index computed entirely from the (day, event_type) bins cube
    (two range rollups + one full-outer join of tiny relations; the raw
    events are never rescanned).  The monitoring use case sketch cubes
    exist for."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    cube = dd.build_bins(ev, "v", ["day", "event_type"], CFG)
    a = dd.rollup_bins(
        cube.where((F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI)),
        ["day", "event_type"], ["event_type"],
    )
    b = dd.rollup_bins(
        cube.where((F.col("day") >= _PSI_B_LO) & (F.col("day") <= _PSI_B_HI)),
        ["day", "event_type"], ["event_type"],
    )
    return dd.bins_psi(a, b, ["event_type"]).orderBy("event_type")
def q_ddsketch_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift between the same two periods the
    PSI query scores — the max CDF gap at any bucket boundary, computed
    entirely from the day cube (functions/ddsketch_fns.py::bins_ks).  The
    location-sensitive complement of PSI's mass-ratio view."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    cube = dd.build_bins(ev, "v", ["day", "event_type"], CFG)
    a = dd.rollup_bins(
        cube.where((F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI)),
        ["day", "event_type"], ["event_type"],
    )
    b = dd.rollup_bins(
        cube.where((F.col("day") >= _PSI_B_LO) & (F.col("day") <= _PSI_B_HI)),
        ["day", "event_type"], ["event_type"],
    )
    return dd.bins_ks(a, b, ["event_type"]).orderBy("event_type")


_SESSION_GAP_US = 3_600_000_000  # 1 hour in micros


def _events_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
    )


def q_ddsketch_sliding_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING-window sketch cube: trailing 7-day p95 per (day, event_type)
    computed entirely from the per-day bins cube (each day-bin row is
    exploded into the 7 days it serves, then re-summed — window x cube rows,
    raw data never rescanned).  Exact by the sum-monoid; the oracle builds
    bins directly on each day's trailing 7-day slice."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_date(F.to_date(F.col("ts"))).alias("day_i"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    cube = dd.build_bins(ev, "v", ["day_i", "event_type"], CFG)
    slid = dd.sliding_bins(cube, "day_i", ["day_i", "event_type"], window=7)
    # observed days from the CUBE, not the raw events — the raw-side
    # distinct would be a second full scan at 100 TB
    days = cube.select("day_i").distinct()
    slid = slid.join(F.broadcast(days), "day_i")
    return dd.quantiles_from_bins(
        slid, ["day_i", "event_type"], (0.95,), CFG
    ).orderBy("day_i", "event_type", "q")


def q_sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1-hour gap per user) rolled up per session:
    the lag-gap-cumsum window composition — one shuffle on user_id, whole-
    stage codegen, no per-key Python."""
    ev = _events_micros(spark, sf_dir)
    s = temporal.sessionize(ev, "user_id", "tsu", "event_id", _SESSION_GAP_US)
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.round(
                (F.max("tsu") - F.min("tsu")).cast("double") / F.lit(1e6), 6
            ).alias("duration_s"),
        )
        .orderBy("user_id", "session_idx")
    )


def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, distinct
    actives per (cohort, week) — the classic triangle, pure composition of
    the engine's relational primitives (two aggregations + one join)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.floor(F.unix_date(F.to_date(F.col("ts"))) / 7).alias("week"),
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort"))
    act = ev.distinct().join(first, "user_id")
    return (
        act.groupBy("cohort", "week")
        .agg(F.countDistinct("user_id").alias("users"))
        .orderBy("cohort", "week")
    )


def q_funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic event funnel per user: signup → click-after-signup →
    purchase-after-that — single-job chained-conditional-min formulation
    (operators/temporal.py::funnel)."""
    ev = _events_micros(spark, sf_dir)
    return temporal.funnel(
        ev, "user_id", "event_type", "tsu", ["signup", "click", "purchase"]
    ).orderBy("step")


def q_asof_nearest_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST: each purchase annotated with the user's closest click
    on either side of it (ties -> the at-or-before click, matching pandas
    merge_asof) — one Exchange, two frame windows over one sort
    (operators/temporal.py::asof_nearest)."""
    ev = _events_micros(spark, sf_dir)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tsu"
    )
    right = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "tsu"
    )
    out = temporal.asof_nearest(
        left, right, "user_id", "tsu", "tsu",
        ["event_id"], "event_id", "event_id", how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("click_event_id"),
        F.round(F.col("asof_distance") / F.lit(1e6), 6).alias("dist_s"),
    ).orderBy("event_id")


_FUNNEL_WITHIN_US = 7 * 24 * 3600 * 1_000_000  # 7 days in microseconds


def q_funnel_within_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same funnel with a first-step-anchored conversion window: every
    later step must land within 7 days of the user's FIRST signup — the
    time-bounded variant every growth dashboard runs."""
    ev = _events_micros(spark, sf_dir)
    return temporal.funnel(
        ev,
        "user_id",
        "event_type",
        "tsu",
        ["signup", "click", "purchase"],
        within=float(_FUNNEL_WITHIN_US),
    ).orderBy("step")


def q_asof_signup_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each signup annotated with the user's next
    at-or-after purchase (time-axis negation of the backward union trick)."""
    ev = _events_micros(spark, sf_dir)
    left = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "tsu"
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tsu"
    )
    out = temporal.asof_join(
        left, right, "user_id", "tsu", "tsu",
        ["event_id", "tsu"], "event_id", "event_id",
        how="left", direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("purchase_event_id"),
        F.round(
            (F.col("asof_tsu") - F.col("tsu")).cast("double") / F.lit(1e6), 6
        ).alias("wait_s"),
    ).orderBy("event_id")


def q_interval_join_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via bucketize-explode-equijoin: each event
    joined to the containing session interval of its user.  Spark's native
    inequality join is a nested loop; the bucket formulation keeps it an
    equi-join at any scale.  (Each event lands in its own session — an
    independent cross-validation of the sessionize assignment.)"""
    ev = _events_micros(spark, sf_dir)
    s = temporal.sessionize(ev, "user_id", "tsu", "event_id", _SESSION_GAP_US)
    sess = s.groupBy("user_id", "session_idx").agg(
        F.min("tsu").alias("s_start"),
        F.max("tsu").alias("s_end"),
        F.min("event_id").alias("first_event"),
    )
    out = temporal.interval_join(
        ev, sess, "user_id", "tsu", "s_start", "s_end",
        ["first_event"], bucket_width=_SESSION_GAP_US,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("ivl_first_event").alias("session_first_event"),
    ).orderBy("event_id", "session_first_event")


def q_asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event annotated with the user's most recent
    at-or-before click — the union-trick formulation (ONE shuffle total for
    both sides; a per-row subquery would be quadratic)."""
    ev = _events_micros(spark, sf_dir)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tsu"
    )
    right = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "tsu"
    )
    out = temporal.asof_join(
        left, right, "user_id", "tsu", "tsu",
        ["event_id", "tsu"], "event_id", "event_id", how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("click_event_id"),
        F.round(
            (F.col("tsu") - F.col("asof_tsu")).cast("double") / F.lit(1e6), 6
        ).alias("gap_s"),
    ).orderBy("event_id")


def q_ddsketch_cube_range_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch cube (the OLAP pattern mergeability buys at 100 TB): the
    (day, event_type) bins cube is precomputed once; ANY date-range quantile
    is then answered by rolling the tiny cube up over the day dimension —
    the raw events are never rescanned, so interactive range queries cost
    O(cube rows), not O(data).  Exactness of the pattern: bins are a
    sum-monoid, so cube-filter-rollup equals bins built directly on the
    filtered data — the oracle computes the latter."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    cube = dd.build_bins(ev, "v", ["day", "event_type"], CFG)
    in_range = cube.where(
        (F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI)
    )
    rolled = dd.rollup_bins(in_range, ["day", "event_type"], ["event_type"])
    return dd.quantiles_from_bins(rolled, ["event_type"], QS, CFG).orderBy(
        "event_type", "q"
    )


# ----------------------------------------------------- companion sketches
_TOOL_ITEMS_SQL = (
    f"SELECT tool AS item FROM {_TRANSCRIPTS} t WHERE tool IS NOT NULL"
)
_CONV_BY_ROLE_SQL = f"SELECT role, conv_id AS item FROM {_TRANSCRIPTS} t"
_BLOOM_PROBES = [
    "tool-0", "tool-1", "tool-2", "tool-3", "tool-4", "tool-5", "tool-6",
    "tool-7", "tool-42", "ghost-a", "ghost-b", "ghost-c",
]
HLL_P = 10
KMV_K = 128


def q_hll_registers_convs_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register relation (pure Catalyst) for distinct conv_ids per role."""
    t = transcripts_from_events(spark, sf_dir)
    return sk.hll_registers(t, "conv_id", ["role"], p=HLL_P).orderBy(
        "role", "reg"
    )


def q_hll_distinct_convs_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct estimate + exact distinct per role (relational path)."""
    t = transcripts_from_events(spark, sf_dir)
    est = sk.hll_estimate_relational(t, "conv_id", ["role"], p=HLL_P)
    exact = t.groupBy("role").agg(
        F.countDistinct("conv_id").alias("exact_distinct")
    )
    return est.join(exact, "role").orderBy("role")


def q_hll_cube_range_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register cube (the max-monoid twin of the DDSketch bins cube):
    (day, event_type) registers are precomputed once; ANY date-range distinct-
    users query is answered by max-rolling the tiny cube over the day
    dimension — exactness of the pattern: rollup-of-max equals registers
    built directly on the range-filtered rows, which is what the oracle
    computes."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        "user_id",
    )
    cube = sk.hll_registers(ev, "user_id", ["day", "event_type"], p=HLL_P)
    in_range = cube.where(
        (F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI)
    )
    rolled = sk.hll_rollup_registers(in_range, ["event_type"])
    return sk.hll_estimate_from_registers(
        rolled, ["event_type"], p=HLL_P
    ).orderBy("event_type")


def q_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving distinct-users: trailing 7-day uniques per (day, event_type)
    from the per-day HLL register cube (max-monoid sliding — the distinct
    twin of ddsketch_sliding_quantiles)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_date(F.to_date(F.col("ts"))).alias("day_i"),
        "event_type",
        "user_id",
    )
    cube = sk.hll_registers(ev, "user_id", ["day_i", "event_type"], p=HLL_P)
    slid = sk.hll_sliding_registers(cube, "day_i", ["day_i", "event_type"], 7)
    days = cube.select("day_i").distinct()  # from the cube, not a raw rescan
    slid = slid.join(F.broadcast(days), "day_i")
    return sk.hll_estimate_from_registers(
        slid, ["day_i", "event_type"], p=HLL_P
    ).orderBy("day_i", "event_type")


def q_hll_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: daily distinct users over trailing-7-day
    distinct users, BOTH from the same register cube (one estimate, one
    max-monoid slide — the classic engagement ratio with cube-only cost)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.unix_date(F.to_date(F.col("ts"))).alias("day_i"), "user_id"
    )
    cube = sk.hll_registers(ev, "user_id", ["day_i"], p=HLL_P)
    dau = sk.hll_estimate_from_registers(cube, ["day_i"], p=HLL_P).select(
        "day_i", F.col("est").alias("dau_est")
    )
    slid = sk.hll_sliding_registers(cube, "day_i", ["day_i"], 7)
    days = cube.select("day_i").distinct()
    wau = sk.hll_estimate_from_registers(
        slid.join(F.broadcast(days), "day_i"), ["day_i"], p=HLL_P
    ).select("day_i", F.col("est").alias("wau_est"))
    return (
        dau.join(wau, "day_i")
        .select(
            "day_i", "dau_est", "wau_est",
            F.round(F.col("dau_est") / F.col("wau_est"), 6).alias("stickiness"),
        )
        .orderBy("day_i")
    )


def q_kmv_event_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k theta sketch: pairwise distinct-user OVERLAP between
    event types (union / intersection / Jaccard estimates) — the set-
    expression capability HLL registers cannot give.  Join sizes are
    pairs x k rows, independent of data size."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk_rel = sk.kmv_sketch(ev, "user_id", ["event_type"], k=KMV_K)
    return sk.kmv_pairwise_overlap(sk_rel, "event_type", k=KMV_K).orderBy(
        "key_a", "key_b"
    )


def q_hll_udaf_distinct_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDAF path HLL (two-phase partial->merge of register blobs): must equal
    the relational estimate register-for-register."""
    t = transcripts_from_events(spark, sf_dir)
    sketches = sk.hll_agg(t, "conv_id", ["role"], p=HLL_P)
    return sketches.select(
        "role", sk.hll_estimate_udf(F.col("sketch")).alias("est")
    ).orderBy("role")


def q_cms_tool_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs true counts for every distinct tool."""
    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    src = t.select(F.col("tool").alias("item"))
    counters = sk.cms_counters(src, "item", [], depth=4, width=512)
    items = src.distinct()
    est = sk.cms_estimate(counters, items, "item", depth=4, width=512)
    true = src.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    return est.join(true, "item").orderBy("item")


def q_cms_cube_range_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min cube (the sum-monoid frequency leg of the cube matrix:
    bins=sum, registers=max, counters=sum): per-day counters precomputed
    once; ANY date-range frequency query is answered by sum-rolling the
    tiny cube — oracle builds counters directly on the range-filtered rows
    (true counts joined for the error-bound context, like cms_tool_counts)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        F.col("user_id").cast("string").alias("item"),
    )
    cube = sk.cms_counters(ev, "item", ["day"], depth=4, width=512)
    in_range = cube.where(
        (F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI)
    )
    rolled = sk.cms_rollup_counters(in_range, [])
    src_f = ev.where((F.col("day") >= _CUBE_LO) & (F.col("day") <= _CUBE_HI))
    items = src_f.select("item").distinct()
    est = sk.cms_estimate(rolled, items, "item", depth=4, width=512)
    true = src_f.groupBy("item").agg(F.count(F.lit(1)).alias("true_cnt"))
    return est.join(true, "item").orderBy("item")


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tools per role by count-min estimate (heavy hitters over the
    CMS: candidates bounded by the per-group vocabulary, deterministic
    tie-break ranking)."""
    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    src = t.select("role", F.col("tool").alias("item"))
    return sk.cms_heavy_hitters(
        src, "item", ["role"], k=5, depth=4, width=256
    ).orderBy("role", "rank")


def q_bloom_probe_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership probes (7 present tools + 5 absent names)."""
    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    build = t.select(F.col("tool").alias("item"))
    bits = sk.bloom_bits(build, "item", [], m_bits=4096, k=5)
    probes = spark.createDataFrame([(x,) for x in _BLOOM_PROBES], "item string")
    return sk.bloom_probe(bits, probes, "item", m_bits=4096, k=5).orderBy("item")


def _latency_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    lat = (micros - F.lag(micros).over(w)).cast("double") / F.lit(1000000.0)
    return t.select("role", lat.alias("v")).where(F.col("v").isNotNull())


_LATENCY_ROLE_MEASURE_SQL = f"""
SELECT role, v FROM (
  SELECT role,
         cast(epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY conv_id ORDER BY turn_idx) AS double) / 1000000.0 AS v
  FROM {_TRANSCRIPTS} t
) WHERE v IS NOT NULL
"""


def _rank_bound_check(
    src: DataFrame, est_long: DataFrame, eps: float, key_col: str = "role"
) -> DataFrame:
    """(role, q, within_bound:int) — 1 iff the sketch estimate's exact rank
    interval [P(v < est), P(v <= est)] intersects [q - eps, q + eps].

    This turns a rank-space sketch (whose state is genuinely non-SQL-
    expressible) into a hash-matchable driver check: Spark computes the
    estimate AND verifies its exact rank against the raw data; the oracle
    asserts the published error bound holds (constant 1 per (role, q))."""
    j = src.join(F.broadcast(est_long), key_col)
    agg = j.groupBy(key_col, "q").agg(
        F.sum(F.when(F.col("v") < F.col("est"), 1).otherwise(0)).alias("cnt_lt"),
        F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias("cnt_le"),
        F.count(F.lit(1)).alias("n"),
    )
    within = (
        F.col("cnt_lt") <= (F.col("q") + F.lit(eps)) * F.col("n")
    ) & (F.col("cnt_le") >= (F.col("q") - F.lit(eps)) * F.col("n"))
    return agg.select(
        key_col, "q", within.cast("int").alias("within_bound")
    ).orderBy(key_col, "q")


def _rank_bound_oracle_sql() -> str:
    qs = ", ".join(f"cast({q} AS double)" for q in QS)
    return f"""
SELECT role, q, 1 AS within_bound
FROM (SELECT DISTINCT role FROM ({_LATENCY_ROLE_MEASURE_SQL}))
CROSS JOIN (SELECT unnest([{qs}]) AS q)
ORDER BY role, q"""


# published rank-error bounds asserted by the driver check: KLL k=200 has
# eps ~ 2.3/k (~1.2%) per Karnin-Lang-Liberty; 4x headroom matches the pytest
# tolerance (tests/test_companion_sketches.py).  t-digest delta=200 has
# ~q(1-q)*4/delta (<1% mid-range, tighter in the tails).
KLL_EPS = 0.05
TDIGEST_EPS = 0.02


def q_kll_latency_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL rank-sketch of inter-turn latency per role (UDAF path): emits the
    rank-error bound check |rank(est) - q| <= eps per (role, q), verified
    against the exact data ranks (hash-matchable driver oracle)."""
    from sketches_go_spark.core.kll import KLLSketch

    # the latency relation feeds BOTH the sketch build and the exact-rank
    # verification join — materialize the (role, v) rows once instead of
    # running the transcripts-view windows twice
    src = _latency_by_role(spark, sf_dir).localCheckpoint(eager=True)
    sketches = sk.kll_agg(src, "v", ["role"], k=200)
    out = sk.with_sketch_quantiles(sketches, KLLSketch.from_bytes, list(QS))
    est_long = out.select(
        "role", F.expr("stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99) AS (q, est)")
    )
    return _rank_bound_check(src, est_long, KLL_EPS)


def q_kll_warehouse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sketch re-aggregation FROM STORAGE — the reason blobs exist:
    per-(role, tool) KLL sketches are persisted to a parquet warehouse,
    read back, and MERGED to per-role without touching raw data; the merged
    estimates must still satisfy the published rank bound against the exact
    ranks (same hash-matchable check as kll_latency_by_role)."""
    import hashlib
    import shutil

    from sketches_go_spark.core.kll import KLLSketch
    from sketches_go_spark.functions.sketch_fns import two_phase_merge
    from sketches_go_spark.sources.io import read_sketches, write_sketches

    t = transcripts_from_events(spark, sf_dir).where(F.col("tool").isNotNull())
    src_rt = t.select("role", "tool", F.length("text").cast("double").alias("v"))
    fine = sk.kll_agg(src_rt, "v", ["role", "tool"], k=200)
    path = "/tmp/sgs_kllwh_v1_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    write_sketches(fine, path, partition_by=["role"])
    merged = two_phase_merge(
        read_sketches(spark, path), ["role"], KLLSketch.from_bytes
    )
    out = sk.with_sketch_quantiles(merged, KLLSketch.from_bytes, list(QS))
    est_long = out.select(
        "role", F.expr("stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99) AS (q, est)")
    )
    return _rank_bound_check(src_rt.select("role", "v"), est_long, KLL_EPS)


def q_tdigest_latency_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest of inter-turn latency per role (UDAF path): emits the
    rank-error bound check |rank(est) - q| <= eps per (role, q), verified
    against the exact data ranks (hash-matchable driver oracle)."""
    from sketches_go_spark.core.tdigest import TDigest

    # same dual consumption as the KLL twin: one materialization for the
    # build + the exact-rank verification join
    src = _latency_by_role(spark, sf_dir).localCheckpoint(eager=True)
    sketches = sk.tdigest_agg(src, "v", ["role"], delta=200.0)
    out = sk.with_sketch_quantiles(sketches, TDigest.from_bytes, list(QS))
    est_long = out.select(
        "role", F.expr("stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99) AS (q, est)")
    )
    return _rank_bound_check(src, est_long, TDIGEST_EPS)


_STREAM_COUNTER = [0]

from contextlib import contextmanager


@contextmanager
def _stream_conf(spark: SparkSession):
    """Size streaming STATE partitions to these availableNow replays: the
    state-partition count is frozen at stream start, and the session's 64
    batch shuffle partitions would create 64 state stores whose per-
    partition commit/provider overhead dominates small streams (measured
    3.1-7.1 s -> 1.7-2.1 s per stream at sf0.1 with 8-16).  Parameterised:
    a production deployment sizes this to state-row cardinality via
    SGS_STREAM_SHUFFLE_PARTITIONS.  Batch conf is restored on exit; the
    aggregation results are partition-count independent."""
    import os

    n = os.environ.get("SGS_STREAM_SHUFFLE_PARTITIONS", "16")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)



def _src_fingerprint(*paths: str) -> str:
    """Content fingerprint (size + mtime_ns) of the file(s) a staged copy
    was derived from.  Stage-reuse markers store this so a REGENERATED
    source at the same path restages instead of silently feeding stale
    data to the correctness gate (completeness and freshness are separate
    properties; _SUCCESS-style markers only give the former)."""
    import os

    return "|".join(
        f"{os.path.getsize(p)}:{os.stat(p).st_mtime_ns}" for p in paths
    )


def _stage_is_fresh(stage: str, marker: str, fp: str) -> bool:
    import os

    mp = os.path.join(stage, marker)
    if not os.path.exists(mp):
        return False
    with open(mp) as f:
        return f.read().strip() == fp


def _write_stage_marker(stage: str, marker: str, fp: str) -> None:
    import os

    with open(os.path.join(stage, marker), "w") as f:
        f.write(fp)


def _staged_events_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the events table: the file stream source
    requires a directory, so stage the single parquet file into a
    content-addressed temp dir once (test staging only — production points
    readStream at the real landing directory)."""
    import hashlib
    import os
    import shutil

    src_file = f"{sf_dir}/events.parquet"
    stage = "/tmp/sgs_stream_src_" + hashlib.md5(src_file.encode()).hexdigest()[:8]
    fp = _src_fingerprint(src_file)
    if not _stage_is_fresh(stage, "_FRESH", fp):
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        shutil.copy(src_file, os.path.join(stage, "events.parquet"))
        _write_stage_marker(stage, "_FRESH", fp)
    batch_schema = spark.read.parquet(src_file).schema
    return spark.readStream.schema(batch_schema).parquet(stage)


def q_streaming_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming (axis B): file-source stream over events,
    watermark-free availableNow run; the streaming state IS the bins relation
    (sum-monoid), finished into quantiles after termination.  Result equals
    the batch query exactly — same oracle."""
    from sketches_go_spark.streaming.stream_agg import streaming_bins

    stream = _staged_events_stream(spark, sf_dir)
    src = stream.select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    bins = streaming_bins(src, "v", ["event_type"], CFG)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_bins_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            bins.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return dd.quantiles_from_bins(spark.table(name), ["event_type"], QS, CFG).orderBy(
        "event_type", "q"
    )


def q_streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming HLL (axis B): the register relation is a
    max-monoid, maintained natively by the state store; the availableNow
    result must equal the batch register relation — same oracle."""
    from sketches_go_spark.streaming.stream_agg import streaming_hll_registers

    stream = _staged_events_stream(spark, sf_dir)
    # the transcripts derivation needs a window (not streamable); register
    # HLL over the raw events stream instead: distinct users per event_type
    items = stream.select("event_type", F.col("user_id").cast("string").alias("item"))
    regs = streaming_hll_registers(items, "item", ["event_type"], p=HLL_P)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_hll_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            regs.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("event_type", "reg")


def q_streaming_stateful_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sketch (axis B): applyInPandasWithState keeps ONE
    encoded DDSketch blob per event_type in the state store and re-emits the
    group's quantiles each micro-batch (streaming/stream_agg.py).  This is
    the reference's decode-is-merge shape (ddsketch.go:400-429) under real
    streaming state.  The final emission per key (largest n — counts grow
    monotonically) must equal the batch UDAF result, so the oracle is the
    same relational algorithm replay as the UDAF pivot queries."""
    from sketches_go_spark.streaming.stream_agg import stateful_sketch_stream

    stream = _staged_events_stream(spark, sf_dir)
    src = stream.select("event_type", F.col("value").cast("double").alias("v"))
    out = stateful_sketch_stream(src, "v", ["event_type"], CFG, QS)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_stateful_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "event_type",
            F.col("n").alias("cnt"),
            F.round("p50", 6).alias("p50"),
            F.round("p95", 6).alias("p95"),
            F.round("p99", 6).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_streaming_kll_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KLL state (axis B): the generic blob-state operator keeps
    one KLL rank sketch per event_type in the state store — rank sketches
    have no relational streaming form, so this IS their streaming path.
    KLL is order-sensitive, so the check is the published rank bound
    against exact ranks (the same hash-matchable design as the batch KLL
    query), applied to the final emission per key."""
    from sketches_go_spark.core.kll import KLLSketch
    from sketches_go_spark.streaming.stream_agg import stateful_blob_stream

    stream = _staged_events_stream(spark, sf_dir)
    src = stream.select("event_type", F.col("value").cast("double").alias("v"))
    out = stateful_blob_stream(
        src, "v", ["event_type"],
        make=lambda: KLLSketch(k=200), decode_fn=KLLSketch.from_bytes,
        quantiles=QS,
    )
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_kll_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    final = (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    est_long = final.select(
        "event_type",
        F.expr("stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99) AS (q, est)"),
    )
    batch_src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    return _rank_bound_check(batch_src, est_long, KLL_EPS, key_col="event_type")


def q_streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sessionization (axis B): Spark's NATIVE
    ``session_window`` state — sessions merge in the state store as events
    arrive, no batch re-sort.  Split rule verified empirically (pytest
    test_sessionize_vs_native_session_window): a gap of EXACTLY the
    threshold still merges — identical strictly-greater semantics to
    ``operators.temporal.sessionize``, so the oracle replays the same
    ``>`` rule as the batch sessionize oracle."""
    stream = _staged_events_stream(spark, sf_dir)
    ev = stream.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("tsx"),
    )
    agg = ev.groupBy(
        "user_id", F.session_window("tsx", "1 hour").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
    )
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_sess_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    out = spark.table(name)
    dur = (
        (F.unix_micros(F.col("sw.end")) - F.unix_micros(F.col("sw.start")))
        - F.lit(_SESSION_GAP_US)
    ).cast("double") / F.lit(1e6)
    return out.select(
        "user_id",
        "first_event",
        "n_events",
        F.round(dur, 6).alias("duration_s"),
    ).orderBy("user_id", "first_event")


def q_streaming_hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained register CUBE served as MOVING windows: the
    stream keeps (day, event_type) HLL registers in the state store (a
    bounded max-monoid — at most 2^p rows per group forever); any trailing-
    window distinct query is then answered from the final state with the
    same sliding rollup as the batch cube, never replaying the stream.
    Same oracle as the batch hll_sliding_distinct (stream state == batch
    cube exactly)."""
    from sketches_go_spark.streaming.stream_agg import streaming_hll_registers

    stream = _staged_events_stream(spark, sf_dir)
    src = stream.select(
        F.substring(F.col("ts").cast("string"), 1, 10).alias("day"),
        "event_type",
        F.col("user_id").cast("string").alias("item"),
    )
    regs = streaming_hll_registers(src, "item", ["day", "event_type"], p=HLL_P)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_hll_cube_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            regs.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    cube = spark.table(name).select(
        F.unix_date(F.to_date(F.col("day"))).alias("day_i"),
        "event_type",
        "reg",
        "rho",
    )
    slid = sk.hll_sliding_registers(cube, "day_i", ["day_i", "event_type"], 7)
    days = cube.select("day_i").distinct()
    slid = slid.join(F.broadcast(days), "day_i")
    return sk.hll_estimate_from_registers(
        slid, ["day_i", "event_type"], p=HLL_P
    ).orderBy("day_i", "event_type")


_APPEND_CUTOFF = "2024-01-16 00:00:00"


def q_streaming_append_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time watermarked windowing in APPEND mode — the canonical
    Structured Streaming late-data shape: daily windows finalize (emit
    once, state evicted) when the watermark passes their end; the
    inside-watermark tail stays withheld.  Events are staged as two
    time-ordered micro-batches (watermark advances between them);
    availableNow flushes once more after the last data batch, so the
    emitted set is exactly the windows with end <= max(ts) - 1 day — a
    deterministic, SQL-expressible rule the oracle replays (windows with
    day + 2 days <= max(ts); the final 2 days are provably withheld)."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time as _time

    from sketches_go_spark.streaming.stream_agg import streaming_bins

    src_file = f"{sf_dir}/events.parquet"
    stage = "/tmp/sgs_stream_append_" + hashlib.md5(src_file.encode()).hexdigest()[:8]
    src_fp = _src_fingerprint(src_file)
    if not _stage_is_fresh(stage, "_STAGED", src_fp):
        shutil.rmtree(stage, ignore_errors=True)
        ev = spark.read.parquet(src_file)
        c = F.lit(_APPEND_CUTOFF).cast("timestamp")
        ev.where(F.col("ts") < c).coalesce(1).write.mode("append").parquet(stage)
        batch1 = set(glob.glob(os.path.join(stage, "*.parquet")))
        ev.where(F.col("ts") >= c).coalesce(1).write.mode("append").parquet(stage)
        batch2 = set(glob.glob(os.path.join(stage, "*.parquet"))) - batch1
        # the file source orders micro-batches by mtime; set them EXPLICITLY
        # (t and t+60) so coarse-granularity filesystems can't tie the two
        # part files and flip the watermark progression
        t0 = _time.time()
        for p in batch1:
            os.utime(p, (t0, t0))
        for p in batch2:
            os.utime(p, (t0 + 60, t0 + 60))
        assert batch1 and batch2, "append stage must produce two micro-batches"
        _write_stage_marker(stage, "_STAGED", src_fp)
    schema = spark.read.parquet(src_file).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # watermarks require TIMESTAMP (not NTZ); the session tz is UTC so the
    # cast preserves wall-clock day boundaries
    src = stream.select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("v"),
    )
    bins = streaming_bins(
        src, "v", ["event_type"], CFG,
        time_col="ts", window="1 day", watermark="1 day",
    )
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_append_{_STREAM_COUNTER[0]}"
    ckpt = tempfile.mkdtemp(prefix="sgs_append_ckpt_")
    with _stream_conf(spark):
        q = (
            bins.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(300)
    res = spark.table(name).select(
        F.substring(F.col("window.start").cast("string"), 1, 10).alias("day"),
        "event_type",
        "sign",
        "bucket",
        "count",
    )
    return dd.quantiles_from_bins(
        res, ["day", "event_type"], (0.5, 0.95), CFG
    ).orderBy("day", "event_type", "q")


def _staged_docs_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the documents table, staged as MULTI-FILE
    parquet (one part per core): the file stream source parallelizes by
    file, so a single-file stage would run every per-row expression of the
    first stage on ONE core (measured 13 s -> ~2 s on the minhash signature
    HOFs at sf0.1).  A real landing directory is many files — this stage
    mirrors that shape.  Content-fingerprint marker as everywhere."""
    import hashlib
    import os
    import shutil

    src_file = f"{sf_dir}/documents.parquet"
    stage = "/tmp/sgs_stream_docs_v2_" + hashlib.md5(src_file.encode()).hexdigest()[:8]
    fp = _src_fingerprint(src_file)
    if not _stage_is_fresh(stage, "_FRESH", fp):
        tmp = f"{stage}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        spark.read.parquet(src_file).repartition(
            spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(tmp)
        _write_stage_marker(tmp, "_FRESH", fp)
        shutil.rmtree(stage, ignore_errors=True)
        os.replace(tmp, stage)
    schema = spark.read.parquet(src_file).schema
    return spark.readStream.schema(schema).parquet(stage)


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (axis B): documents arrive as a file stream;
    the canonical-per-fingerprint relation is maintained as a streaming
    aggregation — min(doc_id) and count(*) are order-free monoids, so the
    availableNow result equals the batch replay exactly.  At scale the
    state store holds one row per distinct fingerprint (the content hash),
    the minimal possible dedup state."""
    stream = _staged_docs_stream(spark, sf_dir)
    fp = stream.select(
        ops_text.doc_fingerprint(F.col("text")).alias("fingerprint"), "doc_id"
    )
    agg = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_dedup_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("fingerprint")


def q_streaming_conv_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming conversation-feature aggregation (axis B): the example-level
    features loaders bucket on (turn count, tool-turn count, wall-clock
    duration, total text chars, opening role) maintained as ONE streaming
    aggregation keyed by conv_id.  The rendered transcript itself is
    order-dependent and NOT streamable without ordered state — but every
    feature here is an order-free monoid (counts, sums, min/max, min-struct
    for the opening role), so the availableNow result equals the batch
    replay exactly.  State = one row per conversation."""
    stream = _staged_events_stream(spark, sf_dir)
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    role = (
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "signup", "system")
        .when(F.col("event_type") == "purchase", "assistant")
        .otherwise("tool")
    )
    turns = stream.select(
        F.concat(
            F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 8, "0")
        ).alias("conv_id"),
        role.alias("role"),
        F.col("props").alias("text"),
        tsu.alias("tsu"),
        F.col("event_id"),
        F.when(F.col("event_type") == "error", 1).alias("is_tool"),
    )
    agg = turns.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count("is_tool").alias("n_tool_turns"),
        (F.max("tsu") - F.min("tsu")).alias("duration_us"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min(F.struct("tsu", "event_id", "role"))["role"].alias("first_role"),
    )
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_convf_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("conv_id")


def q_streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup index (axis B): the MinHash-LSH band-bucket state
    maintained as documents stream in — signatures are per-row higher-order
    functions (no cross-row dependency), so the only streaming aggregation
    is the (band, bucket) min/count monoid and the availableNow result
    equals the batch replay exactly.  State = one row per occupied bucket;
    a doc landing in an n_docs >= 2 bucket has a near-dup candidate."""
    from sketches_go_spark.streaming.stream_agg import streaming_minhash_buckets

    stream = _staged_docs_stream(spark, sf_dir)
    buckets = streaming_minhash_buckets(stream)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_mh_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            buckets.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("band", "bucket")


def q_streaming_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min counter relation (axis B): (event_type, row, col,
    cnt) is a SUM-monoid maintained natively by the state store; the
    availableNow result equals the batch counter relation — exact oracle."""
    from sketches_go_spark.streaming.stream_agg import streaming_cms_counters

    stream = _staged_events_stream(spark, sf_dir)
    items = stream.select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )
    counters = streaming_cms_counters(items, "item", ["event_type"], depth=4, width=512)
    _STREAM_COUNTER[0] += 1
    name = f"sgs_stream_cms_{_STREAM_COUNTER[0]}"
    with _stream_conf(spark):
        q = (
            counters.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("event_type", "row", "col")


# --------------------------------------------- engine composability (§2.9)
def q_rel_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic pricing-summary aggregation (Spark built-ins ARE the engine
    layer the reference lacks; sketches compose with all of it)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_sketch_after_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles over a broadcast-join enrichment: events joined to
    customer (small dim, broadcast) -> DDSketch p50/p95 of value per nation."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    joined = ev.join(
        F.broadcast(cust), ev["user_id"] == cust["c_custkey"], "inner"
    ).select(F.col("c_nationkey"), F.col("value").cast("double").alias("v"))
    return dd.ddsketch_quantiles_relational(
        joined, "v", ["c_nationkey"], (0.5, 0.95), CFG
    ).orderBy("c_nationkey", "q")


_JOIN_MEASURE_SQL = """
SELECT c.c_nationkey, cast(e.value AS double) AS v
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


# ------------------------------------------- training-data pipeline operators
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the test files are single small parquet files -> ONE scan split, so
    # every per-row-heavy doc operator would run on one core; repartition
    # emulates the many-splits layout a 100-TB table gets for free from the
    # scan itself (where this explicit shuffle would be wrong — a real
    # deployment relies on spark.sql.files.maxPartitionBytes splits)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + score per document (pure Catalyst string math)."""
    out = ops_text.quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_chars", "n_tokens", "avg_token_len", "stopword_frac",
        "quality_score",
    ).orderBy("doc_id")


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (oracle-exact variant; trigram-profile variant
    is tested in pytest)."""
    return ops_text.langid_markers(_docs(spark, sf_dir)).select(
        "doc_id", "lang_pred"
    ).orderBy("doc_id")


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways per document: whitespace tokens (replace-count
    identity) and BPE-ish pretokenizer tokens (regexp_count) — the
    training-data budget numbers."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        ops_text.token_count(F.col("text")).alias("ws_tokens"),
        ops_text.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


def _docs_with_planted_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus carries no PII, so plant one deterministic
    e-mail / phone / IPv4 per document (same construction in the oracle) —
    the redaction query then proves each pattern fires and the scrub
    round-trips byte-for-byte cross-engine."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call +1 555 01"),
            F.col("doc_id").cast("string"),
            F.lit(" from 10.0.0."),
            F.pmod("doc_id", F.lit(255)).cast("string"),
        ).alias("text"),
    )


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py::redact): ordered regexp stages for
    e-mail / +phone / IPv4 with per-kind replacement counts — pure Catalyst,
    zero shuffles, Java-regex/RE2-portable patterns."""
    out = ops_text.redact(_docs_with_planted_pii(spark, sf_dir))
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "text_redacted"
    ).orderBy("doc_id")


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (operators/text.py::tfidf_top_terms):
    corpus keyword extraction with rounded-score ordering so the ranking is
    bit-reproducible cross-engine."""
    return ops_text.tfidf_top_terms(_docs(spark, sf_dir), k=3).orderBy(
        "doc_id", "rank"
    )


def q_pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (operators/packing.py): documents
    laid end-to-end into capacity-256 token windows across 8 hash shards —
    the LM-pretraining data-loader layout, deterministic under any
    partitioning."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", ops_text.token_count(F.col("text")).alias("n_tokens")
    )
    return packing.pack_sequences(
        toks, capacity=256, n_shards=8
    ).orderBy("doc_id", "pack_id")


def q_text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-faithful token counts: the committed subword vocabulary
    (BPE-merge-trained, truncated) applied with greedy longest-match
    segmentation in one Arrow-batched mapInPandas stage; the oracle replays
    the identical greedy rule with a recursive-CTE segmenter over distinct
    words (operators/bpe.py)."""
    from sketches_go_spark.operators import bpe

    return bpe.bpe_token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by REAL tokenizer counts: the greedy-subword
    counts (not whitespace counts) feed the same capacity-256 / 8-shard
    concat-then-chunk layout — the production pairing of tokenizer and data
    loader, end-to-end under the exact gate."""
    from sketches_go_spark.operators import bpe

    toks = bpe.bpe_token_counts(_docs(spark, sf_dir))
    return packing.pack_sequences(
        toks, tokens_col="n_bpe_tokens", capacity=256, n_shards=8
    ).orderBy("doc_id", "pack_id")


def q_sample_weighted_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement (Efraimidis-
    Spirakis A-Res, the classic distributed weighted-draw): top-5 docs per
    language weighted by quality score — the 'sample the best-ish data, not
    uniformly' op of curriculum/mixture construction.  The randomness is
    the id hash, so the draw is reproducible across engines and
    partitionings, and the rounded key makes the ranking libm-ulp-proof."""
    docs = ops_text.quality_features(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "quality_score"
    )
    return (
        sampling.weighted_sample(
            docs, "quality_score", k=5, group_cols=["lang"]
        )
        .select("lang", "doc_id", "quality_score", "wkey", "rk")
        .orderBy("lang", "rk")
    )


def q_sample_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction in the units mixtures are specified in: greedy
    deterministic fill of a 600-token budget PER SOURCE, walking docs in
    hash order and keeping each while the tokens before it are under
    budget (overshoot <= 1 doc).  Count-based rebalance can't express
    'equal token mass per provider' when doc lengths differ by source;
    this can, stays nested across budgets, and is hash-replayable."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", ops_text.token_count(F.col("text")).alias("nt")
    )
    return (
        sampling.token_budget_sample(docs, ["source"], "nt", budget=600)
        .select("source", "doc_id", "n_tokens", "tokens_before")
        .orderBy("source", "doc_id")
    )


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality score: mean log10 corpus-unigram
    probability per document — the cheap perplexity-filter stand-in.  The
    per-word log is computed once per DISTINCT term and quantized to
    integer micro-units, so the per-doc accumulation is an order-free
    integer sum (bit-stable across engines and partitionings)."""
    return ops_text.unigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


def q_ddsketch_bpe_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches COMPOSE with the pipeline operators: DDSketch quantiles of
    the BPE token-count distribution per source — the
    'token budget per provider' question a pretraining-mix owner asks.  The
    tokenizer stage is the Arrow-batched greedy-subword counter; the sketch
    stage is the pure-relational bins path; the oracle replays BOTH (the
    recursive-CTE segmenter feeding the bins CTE chain) in one statement."""
    docs = _docs(spark, sf_dir)
    counts = ops_bpe.bpe_token_counts(docs)
    src = counts.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", F.col("n_bpe_tokens").cast("double").alias("v")
    )
    return dd.ddsketch_quantiles_relational(
        src, "v", ["source"], QS, CFG
    ).orderBy("source", "q")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval/RAG chunking: 64-token windows every 48 tokens
    per document, text re-joined per chunk — zero-shuffle per-row Catalyst
    (operators/packing.py::chunk_documents)."""
    return packing.chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=64, stride=48
    ).orderBy("doc_id", "chunk_idx")


def q_transcript_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript assembly — the turns->training-examples last mile: each
    conversation collapsed to ONE role-tagged rendered SFT example plus the
    example-level features loaders bucket on (turn count, tool-call count,
    duration, rendered length).  One conv_id-keyed shuffle; the turn-order
    sort runs inside each group's array, never as a global exchange
    (operators/assemble.py)."""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.assemble_conversations(t, max_turns=64).orderBy(
        "conv_id"
    )


def q_transcript_sft_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL export of the assembled SFT examples — the interchange format
    training loaders actually read.  One conv_id shuffle (the assembly);
    the JSON render is a zero-shuffle Catalyst projection, and Spark's
    ``to_json`` agrees byte-for-byte with DuckDB's
    ``to_json(struct_pack(...))`` on separators, field order and string
    escaping (quotes, backslash, control chars, unicode) — pinned by
    test_sft_jsonl_matches_duckdb.  At scale: write ``line`` with
    ``df.write.text`` straight out of the same plan, one file per
    partition, no extra exchange."""
    t = transcripts_from_events(spark, sf_dir)
    conv = ops_assemble.assemble_conversations(t, max_turns=64)
    return ops_assemble.sft_jsonl(conv).orderBy("conv_id")


def q_transcript_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level (prompt, completion) extraction: every assistant turn
    becomes a training example conditioned on up to 4 preceding rendered
    turns.  Same single conv_id exchange as the assembly family; the
    explode and prompt render are zero-shuffle
    (operators/assemble.py::sft_examples)."""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.sft_examples(t, context_turns=4).orderBy(
        "conv_id", "turn_idx"
    )


def q_transcript_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-turn strip: drop turns whose normalized text appears in
    >= 5 distinct conversations (shared system prompts, templated tool
    output), re-index densely.  The boilerplate set is the bounded output
    of common_turns, broadcast into a map-side anti-join; the only wide
    exchange is the re-rank window
    (operators/assemble.py::strip_boilerplate).  ts surfaces as epoch
    micros (portable-hash rule for timestamps)."""
    t = transcripts_from_events(spark, sf_dir)
    out = ops_assemble.strip_boilerplate(t, min_convs=5)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).orderBy("conv_id", "turn_idx")


def q_transcript_split_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap episode split THEN assembly — conversations re-keyed
    ``conv_id#<episode>`` wherever an inter-turn gap exceeds 12 h, and the
    episode transcripts fed unchanged into the assembler (the point of the
    transcripts-shaped contract).  Split is one conv_id window exchange;
    assembly shuffles on the new episode key
    (operators/assemble.py::split_conversations)."""
    t = transcripts_from_events(spark, sf_dir)
    episodes = ops_assemble.split_conversations(t, gap_us=43_200 * 10**6)
    return ops_assemble.assemble_conversations(episodes).orderBy("conv_id")


def q_pack_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT batch prep end-to-end: assemble the transcripts, then lay the
    rendered conversations end-to-end into capacity-512 token windows across
    8 hash shards (operators/packing.py::pack_sequences over
    operators/assemble.py::assemble_conversations) — the conversation-level
    twin of pack_sequences_documents, proving the packer runs unchanged on
    assembled transcripts."""
    t = transcripts_from_events(spark, sf_dir)
    conv = ops_assemble.assemble_conversations(t)
    toks = conv.select(
        F.col("conv_id").alias("doc_id"),
        ops_text.token_count(F.col("sft_text")).alias("n_tokens"),
    )
    return packing.pack_sequences(toks, capacity=512, n_shards=8).orderBy(
        "doc_id", "pack_id"
    )


def q_transcript_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus role-transition matrix — counts and global share of each
    ``from_role -> to_role`` adjacency (the dialogue-grammar screen run
    before training; operators/assemble.py::role_transitions).  One conv_id
    window exchange collapsed map-side into a ≤ |roles|² relation."""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.role_transitions(t).orderBy("from_role", "to_role")


def q_transcript_tool_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool co-occurrence / affinity matrix over DAY baskets: for every
    unordered tool pair, on how many calendar days both fired, with Jaccard
    affinity — "which tools fail together" ops analysis; pairs generated
    inside each basket's sorted tool set, per-tool totals broadcast; no
    self-join of the raw turns (operators/assemble.py::tool_cooccurrence).
    (Day baskets because the synthetic derivation keys tool on the
    conversation, making conv-basket pairs structurally empty.)"""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.tool_cooccurrence(
        t, basket=F.to_date("ts")
    ).orderBy("tool_a", "tool_b")


def q_dedup_conversations_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level near-dup detection — the transcripts-payload twin
    of document MinHash-LSH: render each conversation to its role-tagged
    text (operators/assemble.py), then MinHash(16)+LSH(4x4) over the
    rendered strings, exact-Jaccard verified >= 0.5.  The synthetic corpus
    has no near-dup conversations, so known positives are planted
    deterministically (hash-picked convs cloned minus their final turn) —
    the oracle replays the exact same planted set."""
    t = transcripts_from_events(spark, sf_dir)
    planted = ops_assemble.plant_neardup_conversations(t, every=5)
    conv = ops_assemble.assemble_conversations(planted)
    docs = conv.select(
        F.col("conv_id").alias("doc_id"), F.col("sft_text").alias("text")
    )
    # materialize the shingle relation: the plant+assemble chain upstream is
    # the expensive part and would otherwise run once per consuming branch
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.5, materialize_shingles=True
    ).orderBy("id_a", "id_b")


def q_transcript_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation transcript-integrity report — dense turn_idx,
    opening-role grammar, adjacent-role repeats, timestamp monotonicity,
    empty turns, and the combined `valid` verdict an SFT loader gates on.
    One conv_id-keyed shuffle; adjacency checks run inside each group's
    sorted array (operators/assemble.py::validate_conversations)."""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.validate_conversations(t).orderBy("conv_id")


def q_transcript_truncate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget conversation truncation then assembly: head-keep turns
    while the running whitespace-token count stays under the budget (same
    keep rule as token_budget_sample — first turn always survives,
    overshoot <= 1 turn), then render the truncated conversations.  Both
    stages shuffle on conv_id only
    (operators/assemble.py::truncate_conversations)."""
    t = transcripts_from_events(spark, sf_dir)
    kept = ops_assemble.truncate_conversations(t, token_budget=8)
    return ops_assemble.assemble_conversations(
        kept.drop("n_tokens", "tokens_before")
    ).orderBy("conv_id")


def q_transcript_common_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-turn detection: normalized turn texts shared by many
    conversations (system prompts, templated tool output).  One text-keyed
    aggregation with two-phase count-distinct; hot boilerplate keys collapse
    map-side (operators/assemble.py::common_turns)."""
    t = transcripts_from_events(spark, sf_dir)
    return ops_assemble.common_turns(t, min_convs=5).orderBy(
        F.desc("n_occurrences"), "text_norm"
    )


def q_transcript_collapse_retries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retry-run collapse: drop turns whose (role, text, tool) exactly repeat
    the previous turn of the conversation (agent retries, double-submits),
    keep the first of each run, re-index turn_idx densely.  One conv_id
    window shuffle shared by the lag comparison and the re-rank
    (operators/assemble.py::collapse_retries).  ts is surfaced as epoch
    micros (the comparison gate's portable timestamp form — pandas renders
    Spark timestamps at ns and DuckDB at us, so raw timestamp columns
    can't value-hash across engines)."""
    t = transcripts_from_events(spark, sf_dir)
    out = ops_assemble.collapse_retries(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).orderBy("conv_id", "turn_idx")


def q_transcript_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-pipeline CAPSTONE — the full turns->training-set build in
    one declarative plan: plant known near-dups (fixture), collapse retry
    runs, keep only schema-valid conversations, head-truncate to a token
    budget, assemble role-tagged SFT examples, and drop the
    lexicographically-larger member of every MinHash-verified near-dup pair
    (pairwise canonicalization — the components closure is the heavier
    dedup_canonical_docs path).  Every stage shuffles on conv_id except the
    LSH banding; the assembled relation is localCheckpoint-ed before the
    near-dup self-join so the plant→collapse→validate→truncate→assemble
    chain runs ONCE, not once per side of the anti-join (recomputed from
    parquet on every fresh invocation — no cross-run reuse)."""
    t = transcripts_from_events(spark, sf_dir)
    planted = ops_assemble.plant_neardup_conversations(t, every=5)
    # the collapsed relation feeds BOTH the validity screen and the kept
    # join — materialize once so plant+collapse runs once, not twice
    c = ops_assemble.collapse_retries(planted).localCheckpoint(eager=True)
    valid_ids = (
        ops_assemble.validate_conversations(c)
        .where(F.col("valid"))
        .select("conv_id")
    )
    kept = c.join(valid_ids, "conv_id")
    trunc = ops_assemble.truncate_conversations(kept, token_budget=64).drop(
        "n_tokens", "tokens_before"
    )
    conv = ops_assemble.assemble_conversations(trunc).localCheckpoint(
        eager=True
    )
    docs = conv.select(
        F.col("conv_id").alias("doc_id"), F.col("sft_text").alias("text")
    )
    drop = (
        dedup.minhash_lsh_pairs(docs, threshold=0.5, materialize_shingles=True)
        .select(F.col("id_b").alias("conv_id"))
        .distinct()
    )
    return conv.join(drop, "conv_id", "left_anti").orderBy("conv_id")


def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash family) fingerprint sets per document —
    substring-level dedup keys; exact portable-hash oracle."""
    return ops_text.winnow_fingerprints(_docs(spark, sf_dir), k=8, w=16).orderBy(
        "doc_id", "fp"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalized-content fingerprint, canonical = min doc_id."""
    return dedup.exact_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard >= 0.5 (shingle inverted-index join)."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5
    ).orderBy("id_a", "id_b")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4x4) candidates, exact-Jaccard verified >= 0.5."""
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), num_perm=16, band_size=4, threshold=0.5
    ).orderBy("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints per document (full portable-hash entropy;
    the 16-bit round-2 default was toy-sized for corpus-scale blocking)."""
    return dedup.simhash(_docs(spark, sf_dir), bits=60).orderBy("doc_id")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 1) blocked by lang — 2 pigeonhole
    segments of 30 bits each."""
    return dedup.simhash_pairs(
        _docs(spark, sf_dir), bits=60, max_hamming=1, block_col="lang"
    ).orderBy("id_a", "id_b")


def q_dedup_simhash_pairs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) with NO blocking column —
    pigeonhole candidate generation is lossless, so the oracle is the exact
    all-pairs hamming filter.  4 segments of 15 bits spread the corpus over
    32768 buckets per segment."""
    return dedup.simhash_pairs(
        _docs(spark, sf_dir), bits=60, max_hamming=3, block_col=None
    ).orderBy("id_a", "id_b")


def q_text_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric substring CONTAINMENT pairs via winnow fingerprints — the
    copied-passage relation Jaccard misses (a short doc pasted inside a long
    one scores cont_short ~ 1 while Jaccard stays low).  Fingerprint
    relation doubles as the blocking index; fp_cap is the anti-quadratic
    guard."""
    return ops_text.winnow_containment_pairs(
        _docs(spark, sf_dir), threshold=0.5
    ).orderBy("id_a", "id_b")


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document REPETITION screen (Gopher-style quality filter):
    duplicate-line fraction and duplicate word-2/3-gram fractions per doc —
    looped generations and boilerplate spam light these up while
    length/stopword features stay normal.  Zero-shuffle per-row
    higher-order functions; the oracle replays the same
    1 - distinct/total identity in DuckDB."""
    return ops_text.repetition_features(_docs(spark, sf_dir)).orderBy("doc_id")


def q_text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-CONTAMINATION screen: which corpus docs contain (pieces of)
    an eval item — containment of each benchmark item's winnow fingerprint
    set inside each corpus doc.  The benchmark table is synthesized
    deterministically (hash-picked ~2% of docs' leading 200 chars), so every
    bench item is planted contamination the screen must find; near-dups of
    the source doc surface too.  The benchmark fingerprint relation is tiny
    and broadcast — the probe costs one corpus-fingerprint scan, never a
    self-join."""
    from sketches_go_spark.functions.expressions import portable_hash64

    docs = _docs(spark, sf_dir)
    bench = docs.where(
        F.pmod(portable_hash64(F.col("doc_id"), "benchpick:"), F.lit(50)) == 7
    ).select(
        F.col("doc_id").alias("bench_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    return ops_text.winnow_contamination(
        docs, bench, threshold=0.5
    ).orderBy("doc_id", "bench_id")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: transitive closure of the simhash pair graph via
    alternating large-star/small-star connected components — the stage that
    turns non-transitive pair similarity into canonical-per-group dedup.
    Every document is labeled (singletons label themselves); the oracle
    replays the closure with a recursive CTE over the exact pair set."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    pairs = dedup.simhash_pairs(docs, bits=60, max_hamming=3, block_col=None)
    comp = dedup.connected_components(pairs).withColumnRenamed("node", "doc_id")
    lab = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    w = Window.partitionBy("component")
    return lab.select(
        "doc_id", "component", F.count(F.lit(1)).over(w).alias("csize")
    ).orderBy("doc_id")


def q_dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup CAPSTONE — the relation a training-data pipeline actually
    ships: every doc labeled with its near-dup component AND the component's
    canonical document, chosen as highest quality score (tie -> lowest id).
    Composes simhash pairs -> connected components -> quality scoring ->
    a map-side-combinable max_by argmax per component (no window over the
    corpus)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.simhash_pairs(docs, bits=60, max_hamming=3, block_col=None)
    comp = dedup.connected_components(pairs).withColumnRenamed("node", "doc_id")
    q = ops_text.quality_features(docs).select("doc_id", "quality_score")
    lab = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
        .join(q, "doc_id")
    )
    canon = lab.groupBy("component").agg(
        F.max_by(
            F.col("doc_id"),
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("_nid")),
        ).alias("canonical_id")
    )
    return (
        lab.join(canon, "component")
        .select(
            "doc_id",
            "component",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def q_dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus-delta dedup — the most common real operation on a
    growing corpus: a NEW shard (~20% of docs by deterministic hash split)
    is deduplicated against a PERSISTED fingerprint index + component state
    without recomputing the base corpus.  The staged warehouse (built once
    per source fingerprint) holds the base (doc_id, simhash) relation and
    the base (node, component) assignment; the measured query computes
    fingerprints for the shard only, generates shard<->shard and
    shard<->base candidate pairs against the stored index
    (dedup.simhash_delta_pairs — never base<->base), and merges the new
    edges into the saved component star (dedup.incremental_components).

    The result hash-matches the FULL-RECOMPUTE oracle over the union corpus
    (same recursive-CTE closure as dedup_components) — that equality IS the
    correctness claim: indexing a shard against the warehouse gives the
    same answer as re-deduplicating everything, at O(shard) cost.

    Scale shape: the stored index is one bigint per base doc (partition-
    prunable parquet); only (bigint, bigint) pairs shuffle in the merge; a
    shard doc that bridges two base components merges them through the
    stored stars."""
    import hashlib
    import os
    import shutil

    docs = _docs(spark, sf_dir)
    is_shard = (
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit("shardsplit")), F.lit(5)) == 4
    )

    stage = "/tmp/sgs_incdedup_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src_fp = _src_fingerprint(f"{sf_dir}/documents.parquet")
    if not _stage_is_fresh(stage, "_STAGED", src_fp):
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        base = docs.where(~is_shard)
        sig_base = dedup.simhash(base, bits=60)
        sig_base.write.mode("overwrite").parquet(os.path.join(stage, "sig"))
        sig_back = spark.read.parquet(os.path.join(stage, "sig"))
        base_pairs = dedup.pigeonhole_hamming_pairs(
            sig_back.withColumn("_blk", F.lit(0)), "doc_id", "simhash", 60, 3
        )
        dedup.connected_components(base_pairs).write.mode("overwrite").parquet(
            os.path.join(stage, "assignment")
        )
        _write_stage_marker(stage, "_STAGED", src_fp)

    sig_base = spark.read.parquet(os.path.join(stage, "sig"))
    assignment = spark.read.parquet(os.path.join(stage, "assignment"))
    shard = docs.where(is_shard)
    sig_shard = dedup.simhash(shard, bits=60)
    delta = dedup.simhash_delta_pairs(
        sig_base, sig_shard, bits=60, max_hamming=3
    )
    comp = dedup.incremental_components(assignment, delta).withColumnRenamed(
        "node", "doc_id"
    )
    lab = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )
    w = Window.partitionBy("component")
    return lab.select(
        "doc_id", "component", F.count(F.lit(1)).over(w).alias("csize")
    ).orderBy("doc_id")


def q_sample_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (98/1/1 by hash bucket) plus
    membership of the independent 10% deterministic sample — reproducible
    across runs/partitionings/engines, unlike randomSplit/sample."""
    docs = _docs(spark, sf_dir)
    split = sampling.hash_split(docs).select("doc_id", "split")
    sam = sampling.deterministic_sample(docs, rate=0.1).select(
        "doc_id", F.lit(True).alias("in_sample")
    )
    return (
        split.join(sam, "doc_id", "left")
        .select(
            "doc_id", "split", F.coalesce("in_sample", F.lit(False)).alias("in_sample")
        )
        .orderBy("doc_id")
    )


def q_sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 5 docs per lang by hash rank — deterministic uniform
    without-replacement per-stratum sampling (one window shuffle)."""
    docs = _docs(spark, sf_dir)
    return sampling.stratified_topk_sample(docs, ["lang"], k=5).select(
        "doc_id", "lang", "rk"
    ).orderBy("lang", "rk")


def q_sample_rebalance_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: downsample every language to ~the smallest
    language's size via per-group hash-threshold rates — the
    mixture-balancing op, zero shuffles on the data rows
    (operators/sampling.py::rebalanced_sample)."""
    docs = _docs(spark, sf_dir)
    return (
        sampling.rebalanced_sample(docs, ["lang"])
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_sketch_range_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven range partitioning: balanced split points from ONE
    DDSketch pass (the sample-sort primitive without Spark's reservoir
    sampling), every row tagged with its bucket by a broadcast boundary
    array, then per-bucket counts — near-uniform by construction
    (plans/layout.py::range_bucket_by_sketch)."""
    from sketches_go_spark.plans import layout

    ev = _events_value(spark, sf_dir).select("v")
    out = layout.range_bucket_by_sketch(ev, "v", 16, CFG)
    return (
        out.groupBy("range_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("range_bucket")
    )


def q_text_strip_common_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus line dedup: boilerplate lines occurring in >= 3
    distinct documents stripped, text reassembled in order.  The synthetic
    corpus has no shared lines, so known positives are planted
    deterministically first (hash-picked docs get a boilerplate header) —
    the oracle replays plant and strip
    (operators/text.py::strip_common_lines)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = ops_text.plant_common_lines(docs, every=4)
    return ops_text.strip_common_lines(planted, min_docs=3).orderBy("doc_id")


def q_sample_temperature_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture sampling (alpha=0.5): reshape the language
    mixture toward sqrt(n) shares under the same total budget — the
    standard multilingual-training rebalancing rule
    (operators/sampling.py::temperature_sample).  sqrt-chain + fixed-point
    integer normalization make the kept set bit-exactly replayable."""
    docs = _docs(spark, sf_dir)
    return (
        sampling.temperature_sample(docs, ["lang"], alpha=0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_sample_resample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture RESAMPLING (alpha=0.5): low-resource languages
    replicated (with copy_idx) and high-resource ones decimated toward
    sqrt(n) shares — the with-replacement upsampling rule
    (operators/sampling.py::temperature_resample)."""
    docs = _docs(spark, sf_dir)
    return (
        sampling.temperature_resample(docs, ["lang"], alpha=0.5)
        .select("doc_id", "lang", "copy_idx")
        .orderBy("doc_id", "copy_idx")
    )


def q_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup groups: the embedding near-dup pair graph (banded
    cosine LSH) closed into components — the same large-star/small-star
    closure as the lexical dedup_components, over a different similarity
    modality.  Every vector labeled; singletons label themselves."""
    from pyspark.sql.window import Window

    embs = _embs(spark, sf_dir)
    pairs = sim.embedding_neardup_pairs(embs, threshold=0.3, bucket_cap=400)
    comp = dedup.connected_components(pairs).withColumnRenamed(
        "node", "vec_id"
    )
    lab = embs.select("vec_id").join(comp, "vec_id", "left").select(
        "vec_id", F.coalesce("component", "vec_id").alias("component")
    )
    w = Window.partitionBy("component")
    return lab.select(
        "vec_id", "component", F.count(F.lit(1)).over(w).alias("csize")
    ).orderBy("vec_id")


def q_kmeans_assign_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic relational Lloyd's k-means (3 iterations, k=8) over the
    embeddings — an ITERATIVE algorithm with an exact cross-engine oracle:
    integer-grid quantization makes every cross-row sum order-free, so the
    DuckDB replay of the same iterations is bit-identical (operators/
    similarity.py::kmeans_fit).  This is the trained-codebook seam the IVF
    index documents."""
    assign, _ = sim.kmeans_fit(_embs(spark, sf_dir), k=8, iters=3)
    return assign.orderBy("vec_id")


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the first 5 vectors (baseline)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.brute_force_topk(embs, queries, k=5).orderBy("query_id", "rank")


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via banded multi-probe hyperplane LSH (the 100-TB scale
    path: candidates are the union over 4 independent 8-bit bands, with
    hamming-1 query probes)."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.lsh_ann_topk(
        embs, queries, k=5, n_bands=4, band_bits=8, multi_probe=True
    ).orderBy("query_id", "rank")


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5: argmax-dot coarse cells (deterministic codebook),
    nprobe=4 of 16 cells probed per query, exact-cosine refinement — the
    inverted-file complement of the LSH scale path."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk(
        embs, queries, k=5, n_centroids=16, nprobe=4
    ).orderBy("query_id", "rank")


def q_sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-IVF end-to-end — the production ANN pipeline shape: Lloyd's
    k-means (integer-grid, bit-exactly replayable) is FIT on a deterministic
    hash-sample of the corpus (50%), the learned codebook is materialized
    (the one tiny collect), and ivf_topk indexes/probes the FULL corpus with
    it (nprobe=3 of up to 8 data-aware cells).  The oracle replays the whole
    chain — sampling, k-means iterations, the exact (s/n)/2^scale_bits
    codebook floats, cell argmax, probe ranking, cosine refinement — so the
    hash match certifies training AND serving, not just the probe."""
    from sketches_go_spark.functions.expressions import portable_hash64

    embs = _embs(spark, sf_dir)
    train = embs.where(
        F.pmod(portable_hash64(F.col("vec_id"), "ivftrain:"), F.lit(4)) < 2
    )
    _, cent = sim.kmeans_fit(train, k=8, iters=2)
    codebook = sim.kmeans_centroids(cent)
    queries = embs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk(
        embs, queries, k=5, nprobe=3, centroids=codebook
    ).orderBy("query_id", "rank")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.3) within banded LSH buckets
    (union over 4 bands), hot buckets capped at 400 vectors."""
    return sim.embedding_neardup_pairs(
        _embs(spark, sf_dir), threshold=0.3, n_bands=4, band_bits=8,
        bucket_cap=400,
    ).orderBy("id_a", "id_b")


def _docs_as_media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Documents table viewed as an opaque-binary media table (payload =
    utf-8 text bytes; metadata derived deterministically from doc_id) so the
    multimodal plumbing runs against driver testdata with an exact oracle."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.concat(F.lit(f"{kind}-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(f"{kind}/fake").alias("mime"),
        (F.pmod("doc_id", F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod("doc_id", F.lit(1080)) + 1).cast("int").alias("height"),
        ((F.pmod("doc_id", F.lit(60)) + 1) * 1000).cast("int").alias("duration_ms"),
        F.encode("text", "utf-8").alias("payload"),
    )


def q_multimodal_frame_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: frames per media at a 1 s grid
    (mapInPandas cut over exploded sample grid; counts are SQL-checkable)."""
    frames = mm.frame_sample(_docs_as_media(spark, sf_dir, "video"), every_ms=1000)
    return (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
        .orderBy("media_id")
    )


def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode(stub)+feature extraction over binary payloads
    (mapInPandas).  The stub decoder's pixels are md5-derived, so the mean/std
    are exactly reproducible in SQL from integer byte sums — full hash-match
    driver oracle; array shapes/invariants additionally asserted in pytest."""
    feats = mm.image_features(_docs_as_media(spark, sf_dir, "image"))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        F.size("feature").alias("feat_dim"),
    ).orderBy("media_id")


def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing: fit-in-256-box output dims from metadata (integer
    math, payload never needed for planning) + stub 2x2-pooled thumbnail;
    the pooled pixel total is exactly replayable from md5 byte sums."""
    out = mm.image_resize(_docs_as_media(spark, sf_dir, "image"), box=256)
    return out.select(
        "media_id",
        "out_w",
        "out_h",
        F.length("thumb").alias("thumb_bytes"),
        "px_sum",
    ).orderBy("media_id")


_IMAGE_RESIZE_ORACLE_SQL = """
WITH sgs_px AS (
  SELECT 'image-' || CAST(doc_id AS VARCHAR) AS media_id,
         CAST(((doc_id % 1920) + 1920) % 1920 + 1 AS INT) AS w,
         CAST(((doc_id % 1080) + 1080) % 1080 + 1 AS INT) AS h,
         md5(text) AS hx
  FROM documents
), sgs_bytes AS (
  SELECT media_id, w, h,
         (strpos('0123456789abcdef', substr(hx, 2 * u.i + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * u.i + 2, 1)) - 1) AS b
  FROM sgs_px CROSS JOIN (SELECT unnest(range(0, 16)) AS i) u
)
SELECT media_id,
       CAST(greatest((w * 256) // greatest(w, h), 1) AS INT) AS out_w,
       CAST(greatest((h * 256) // greatest(w, h), 1) AS INT) AS out_h,
       16 AS thumb_bytes,
       CAST(4 * sum(b) AS INT) AS px_sum
FROM sgs_bytes
GROUP BY media_id, w, h
ORDER BY media_id"""


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode(stub)+feature extraction (mapInPandas).  The stub feature
    is the 16 md5 digest bytes scaled to [0,1] float32; multiplying back by
    255 and rounding recovers the exact byte, so the integer byte-sum is a
    bit-exact SQL-replayable check on the full feature vector."""
    feats = mm.audio_features(_docs_as_media(spark, sf_dir, "audio"))
    byte_sum = F.aggregate(
        "feature",
        F.lit(0),
        lambda acc, x: acc + F.round(x.cast("double") * 255, 0).cast("int"),
    )
    return feats.select(
        "media_id",
        "duration_ms",
        F.size("feature").alias("feat_dim"),
        byte_sum.alias("byte_sum"),
    ).orderBy("media_id")


# Exact SQL replay of the md5-derived audio stub: the feature bytes are the
# 16 md5(text) digest bytes (operators/multimodal.py:audio_features), so the
# byte-sum recovered from the float32 features equals sum of digest bytes.
_AUDIO_FEATURES_ORACLE_SQL = """
WITH sgs_ax AS (
  SELECT 'audio-' || CAST(doc_id AS VARCHAR) AS media_id,
         CAST((((doc_id % 60) + 60) % 60 + 1) * 1000 AS INT) AS duration_ms,
         md5(text) AS hx
  FROM documents
), sgs_bytes AS (
  SELECT media_id, duration_ms,
         (strpos('0123456789abcdef', substr(hx, 2 * u.i + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * u.i + 2, 1)) - 1) AS b
  FROM sgs_ax CROSS JOIN (SELECT unnest(range(0, 16)) AS i) u
)
SELECT media_id, duration_ms, 16 AS feat_dim, CAST(sum(b) AS INT) AS byte_sum
FROM sgs_bytes
GROUP BY media_id, duration_ms
ORDER BY media_id"""


# Exact SQL replay of the md5-derived stub decoder: pixels are the 16 md5
# digest bytes repeated x4 (operators/multimodal.py:_decode_image_stub), so
# sum(px)=4*sum(b) and the float64 expression chain below is bit-identical to
# the Spark side (same single-rounding division order; see image_features).
_IMAGE_FEATURES_ORACLE_SQL = """
WITH sgs_px AS (
  SELECT 'image-' || CAST(doc_id AS VARCHAR) AS media_id,
         CAST(((doc_id % 1920) + 1920) % 1920 + 1 AS INT) AS width,
         CAST(((doc_id % 1080) + 1080) % 1080 + 1 AS INT) AS height,
         md5(text) AS hx
  FROM documents
), sgs_bytes AS (
  SELECT media_id, width, height,
         (strpos('0123456789abcdef', substr(hx, 2 * u.i + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * u.i + 2, 1)) - 1) AS b
  FROM sgs_px CROSS JOIN (SELECT unnest(range(0, 16)) AS i) u
)
SELECT media_id, width, height,
       round(sum(b) / 4080.0, 6) AS mean,
       round(sqrt(greatest(
           sum(b * b) / 16.0 / 65025.0
           - (sum(b) / 4080.0) * (sum(b) / 4080.0), 0.0)), 6) AS std,
       64 AS feat_dim
FROM sgs_bytes
GROUP BY media_id, width, height
ORDER BY media_id"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-tool p50/p95/p99 inter-turn latency (DDSketch relational
    path over the transcripts derivation) at sf0.001."""
    return q_ddsketch_latency_by_tool(spark, "/root/testdata/sf0.001")


#: The driver's correctness gate verifies the FIRST 50 queries() entries, so
#: ordering is the rotation policy.  Round-5 window, in priority order:
#: (1) the 7 queries NEW this round; (2) every query whose code path changed
#: this round (pigeonhole/simhash refactor -> simhash family + components;
#: band_buckets_expr refactor -> minhash; candidate_budget param -> jaccard +
#: winnow containment; kmeans CTE refactor -> kmeans oracle; staging
#: freshness/mtime fixes -> csv + streaming stages; chunk empty-doc gate;
#: rebalanced_sample guard); (3) the two rotations the round-4 verdict
#: demanded (funnel, bins histogram); (4) fill to 50 with queries last
#: verified in round 3 (everything outside the r4 window was).
_ROUND5_WINDOW = [
    # --- new this round
    "text_repetition",
    "text_benchmark_contamination",
    "dedup_incremental_shard",
    "sim_ivf_trained_topk",
    "text_bpe_token_counts",
    "pack_sequences_bpe",
    "streaming_dedup_minhash",
    "text_unigram_logprob",
    "ddsketch_bpe_tokens_by_source",
    "sample_weighted_by_quality",
    "sample_token_budget_by_source",
    "transcript_sft_render",
    "transcript_sft_jsonl",
    "transcript_sft_examples",
    "transcript_strip_boilerplate",
    "transcript_split_episodes",
    "dedup_conversations_minhash",
    "transcript_validate",
    "transcript_truncate_budget",
    "transcript_common_turns",
    "ddsketch_conv_duration_by_first_role",
    "ddsketch_reply_latency_daily",
    "ddsketch_quantile_rank_events",
    "streaming_conv_features",
    "transcript_collapse_retries",
    "transcript_tool_affinity",
    "transcript_role_transitions",
    "pack_conversations",
    "sample_temperature_by_lang",
    "sample_resample_by_lang",
    "text_strip_common_lines",
    "sketch_range_bucket_counts",
    "transcript_training_set",
    # --- code path changed this round
    "chunk_documents",
    "streaming_append_daily_quantiles",
    "streaming_dedup_exact",
    "source_csv_textlen_by_role",
    "sample_rebalance_by_lang",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_winnow_containment",
    "dedup_components",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_simhash_pairs_global",
    "embedding_components",
    "dedup_canonical_docs",
    # --- round-4 verdict rotations
    "funnel_signup_click_purchase",
    "ddsketch_bins_histogram",
    # --- last verified round 3
    "ddsketch_latency_by_tool",
]
# rotated out to keep the window at 50 (all r3/r4-verified, unchanged):
# ddsketch_proto_roundtrip, ddsketch_udaf_bins_strategy,
# ddsketch_daily_quantiles, ddsketch_cube_range_quantiles,
# ddsketch_psi_value_drift, ddsketch_summary_by_role,
# sql_api_textlen_by_role, ddsketch_udaf_textlen_by_role,
# kmeans_assign_embeddings (r4-verified, untouched in r5)
# — r6 re-verification candidates


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {k: _ALL_QUERIES[k] for k in _ROUND5_WINDOW}
    ordered.update(
        {k: v for k, v in _ALL_QUERIES.items() if k not in ordered}
    )
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "streaming_hll_sliding_distinct": q_streaming_hll_sliding_distinct,
        "text_token_counts": q_text_token_counts,
        "text_winnow_fingerprints": q_text_winnow_fingerprints,
        "text_winnow_containment": q_text_winnow_containment,
        "text_repetition": q_text_repetition,
        "transcript_sft_render": q_transcript_sft_render,
        "transcript_sft_jsonl": q_transcript_sft_jsonl,
        "transcript_sft_examples": q_transcript_sft_examples,
        "transcript_strip_boilerplate": q_transcript_strip_boilerplate,
        "transcript_split_episodes": q_transcript_split_episodes,
        "transcript_role_transitions": q_transcript_role_transitions,
        "transcript_tool_affinity": q_transcript_tool_affinity,
        "pack_conversations": q_pack_conversations,
        "dedup_conversations_minhash": q_dedup_conversations_minhash,
        "transcript_validate": q_transcript_validate,
        "transcript_truncate_budget": q_transcript_truncate_budget,
        "transcript_common_turns": q_transcript_common_turns,
        "ddsketch_conv_duration_by_first_role": q_ddsketch_conv_duration_by_first_role,
        "ddsketch_reply_latency_daily": q_ddsketch_reply_latency_daily,
        "ddsketch_quantile_rank_events": q_ddsketch_quantile_rank_events,
        "streaming_conv_features": q_streaming_conv_features,
        "transcript_collapse_retries": q_transcript_collapse_retries,
        "transcript_training_set": q_transcript_training_set,
        "text_benchmark_contamination": q_text_benchmark_contamination,
        "dedup_components": q_dedup_components,
        "dedup_incremental_shard": q_dedup_incremental_shard,
        "embedding_components": q_embedding_components,
        "sample_split_documents": q_sample_split_documents,
        "sample_stratified_by_lang": q_sample_stratified_by_lang,
        "kmeans_assign_embeddings": q_kmeans_assign_embeddings,
        "multimodal_audio_features": q_multimodal_audio_features,
        "multimodal_image_resize": q_multimodal_image_resize,
        "sim_ann_lsh": q_sim_ann_lsh,
        "sim_ivf_topk": q_sim_ivf_topk,
        "sim_ivf_trained_topk": q_sim_ivf_trained_topk,
        "rel_agg_lineitem": q_rel_agg_lineitem,
        "sketch_after_join": q_sketch_after_join,
        "ddsketch_rollup": q_ddsketch_rollup,
        "ddsketch_reweight": q_ddsketch_reweight,
        "ddsketch_change_mapping": q_ddsketch_change_mapping,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_simhash_pairs_global": q_dedup_simhash_pairs_global,
        "sim_topk_bruteforce": q_sim_topk_bruteforce,
        "embedding_neardup": q_embedding_neardup,
        "multimodal_frame_grid": q_multimodal_frame_grid,
        "multimodal_image_features": q_multimodal_image_features,
        # new in round 4 (also inside the first-50 verification window)
        "text_redact_pii": q_text_redact_pii,
        "text_tfidf_top_terms": q_text_tfidf_top_terms,
        "pack_sequences_documents": q_pack_sequences_documents,
        "text_bpe_token_counts": q_text_bpe_token_counts,
        "pack_sequences_bpe": q_pack_sequences_bpe,
        "text_unigram_logprob": q_text_unigram_logprob,
        "ddsketch_bpe_tokens_by_source": q_ddsketch_bpe_tokens_by_source,
        "sample_weighted_by_quality": q_sample_weighted_by_quality,
        "sample_token_budget_by_source": q_sample_token_budget_by_source,
        "ddsketch_cdf_by_event_type": q_ddsketch_cdf_by_event_type,
        "streaming_dedup_exact": q_streaming_dedup_exact,
        "streaming_dedup_minhash": q_streaming_dedup_minhash,
        "funnel_within_week": q_funnel_within_week,
        "asof_nearest_purchase_click": q_asof_nearest_purchase_click,
        "dedup_canonical_docs": q_dedup_canonical_docs,
        "ddsketch_outlier_rate": q_ddsketch_outlier_rate,
        "sample_rebalance_by_lang": q_sample_rebalance_by_lang,
        "sample_temperature_by_lang": q_sample_temperature_by_lang,
        "text_strip_common_lines": q_text_strip_common_lines,
        "sketch_range_bucket_counts": q_sketch_range_bucket_counts,
        "sample_resample_by_lang": q_sample_resample_by_lang,
        "chunk_documents": q_chunk_documents,
        "streaming_append_daily_quantiles": q_streaming_append_daily_quantiles,
        "ddsketch_ks_drift": q_ddsketch_ks_drift,
        "ddsketch_quantiles_value_by_event_type": q_ddsketch_quantiles_value_by_event_type,
        "ddsketch_linear_quantiles_by_event_type": q_ddsketch_linear_quantiles,
        "ddsketch_cubic_quantiles_by_event_type": q_ddsketch_cubic_quantiles,
        "ddsketch_textlen_by_role": q_ddsketch_textlen_by_role,
        "ddsketch_grouping_sets_quantiles": q_ddsketch_grouping_sets_quantiles,
        "source_csv_textlen_by_role": q_source_csv_textlen_by_role,
        "sketch_warehouse_roundtrip": q_sketch_warehouse_roundtrip,
        "ddsketch_latency_by_tool": q_ddsketch_latency_by_tool,
        "ddsketch_bins_histogram": q_ddsketch_bins_histogram,
        "ddsketch_summary_by_role": q_ddsketch_summary_by_role,
        "ddsketch_udaf_textlen_by_role": q_ddsketch_udaf_textlen_by_role,
        "sql_api_textlen_by_role": q_sql_api_textlen_by_role,
        "ddsketch_proto_roundtrip": q_ddsketch_proto_roundtrip,
        "ddsketch_udaf_bins_strategy": q_ddsketch_udaf_bins_strategy,
        "ddsketch_daily_quantiles": q_ddsketch_daily_quantiles,
        "ddsketch_cube_range_quantiles": q_ddsketch_cube_range_quantiles,
        "ddsketch_psi_value_drift": q_ddsketch_psi_value_drift,
        "ddsketch_mad_by_event_type": q_ddsketch_mad_by_event_type,
        "ddsketch_winsorized_mean": q_ddsketch_winsorized_mean,
        "ddsketch_daily_trend": q_ddsketch_daily_trend,
        "ddsketch_sliding_quantiles": q_ddsketch_sliding_quantiles,
        "sessionize_user_events": q_sessionize_user_events,
        "asof_purchase_last_click": q_asof_purchase_last_click,
        "interval_join_session_events": q_interval_join_session_events,
        "asof_signup_next_purchase": q_asof_signup_next_purchase,
        "funnel_signup_click_purchase": q_funnel_signup_click_purchase,
        "retention_weekly": q_retention_weekly,
        "ddsketch_collapsed_bins": q_ddsketch_collapsed_bins,
        "ddsketch_collapsed_highest_bins": q_ddsketch_collapsed_highest_bins,
        "ddsketch_weighted_bins": q_ddsketch_weighted_bins,
        "hll_registers_convs_by_role": q_hll_registers_convs_by_role,
        "hll_distinct_convs_by_role": q_hll_distinct_convs_by_role,
        "hll_udaf_distinct_by_role": q_hll_udaf_distinct_by_role,
        "hll_cube_range_distinct": q_hll_cube_range_distinct,
        "kmv_event_type_user_overlap": q_kmv_event_type_user_overlap,
        "hll_sliding_distinct": q_hll_sliding_distinct,
        "hll_stickiness": q_hll_stickiness,
        "cms_tool_counts": q_cms_tool_counts,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "cms_cube_range_counts": q_cms_cube_range_counts,
        "bloom_probe_tools": q_bloom_probe_tools,
        "kll_latency_by_role": q_kll_latency_by_role,
        "kll_warehouse_rollup": q_kll_warehouse_rollup,
        "tdigest_latency_by_role": q_tdigest_latency_by_role,
        "streaming_ddsketch_value_by_event_type": q_streaming_ddsketch,
        "streaming_hll_registers_by_event_type": q_streaming_hll_registers,
        "streaming_stateful_ddsketch_by_event_type": q_streaming_stateful_ddsketch,
        "streaming_cms_counters_by_event_type": q_streaming_cms_counters,
        "streaming_session_stats": q_streaming_session_stats,
        "streaming_kll_by_event_type": q_streaming_kll_by_event_type,
    }


_ALL_QUERIES = _all_queries()


def _redact_pii_oracle_sql() -> str:
    """Planted-PII construction identical to _docs_with_planted_pii, then
    the redact_sql twins (counts on the progressively redacted text)."""
    cols = ops_text.redact_sql("text2")
    planted = (
        "SELECT doc_id, concat(text, ' mail user', cast(doc_id AS string),"
        " '@example.com call +1 555 01', cast(doc_id AS string),"
        " ' from 10.0.0.', cast(doc_id % 255 AS string)) AS text2"
        " FROM documents"
    )
    sel = ", ".join(
        f"{expr} AS {name}" for name, expr in cols.items()
    )
    return f"SELECT doc_id, {sel} FROM ({planted}) ORDER BY doc_id"


def _cdf_oracle_sql() -> str:
    """Replay of q_ddsketch_cdf_by_event_type from the sgs_bins CTE with the
    same driver-side threshold bucket indexes."""
    m = CFG.mapping()
    fracs = []
    for t in _CDF_THRESHOLDS:
        it = int(m.index_scalar(float(t)))
        fracs.append(
            f"round(sum(CASE WHEN sign < 1 OR (sign = 1 AND bucket <= {it})"
            f" THEN count ELSE 0.0 END) / sum(count), 6) AS frac_le_{t}"
        )
    return (
        "WITH "
        + oracles.ddsketch_bins_sql(_EVENT_VALUE_MEASURE_SQL, ["event_type"], CFG)
        + "\nSELECT event_type, "
        + ", ".join(fracs)
        + " FROM sgs_bins GROUP BY event_type ORDER BY event_type"
    )


def _training_set_oracle() -> str:
    """DuckDB replay of q_transcript_training_set: the same stage chain
    composed from each operator's SQL twin (plant -> collapse -> valid
    filter -> truncate -> assemble -> anti-join the near-dup pair drops).
    The assembled relation appears twice (once as output, once as the LSH
    input) exactly as in the Spark plan."""
    planted = ops_assemble.plant_neardup_conversations_sql(
        transcripts_sql("events"), every=5
    )
    collapsed = ops_assemble.collapse_retries_sql(planted)
    kept = (
        "SELECT c.conv_id, c.turn_idx, c.role, c.text, c.tool, c.ts FROM ("
        + collapsed
        + ") c JOIN (SELECT conv_id FROM ("
        + ops_assemble.validate_conversations_sql(collapsed)
        + ") WHERE valid) v USING (conv_id)"
    )
    conv = ops_assemble.assemble_conversations_sql(
        ops_assemble.truncate_conversations_sql(kept, token_budget=64)
    )
    pairs = opl.minhash_lsh_oracle(
        src="(SELECT conv_id AS doc_id, sft_text AS text FROM (" + conv + "))",
        threshold=0.5,
    )
    return (
        "SELECT * FROM ("
        + conv
        + ") WHERE conv_id NOT IN (SELECT DISTINCT id_b FROM ("
        + pairs
        + ")) ORDER BY conv_id"
    )


def oracle_sql() -> dict[str, str]:
    collapsed_cfg = DDSketchConfig(alpha=ALPHA, max_bins=32, collapse="lowest")
    collapsed_highest_cfg = DDSketchConfig(alpha=ALPHA, max_bins=32, collapse="highest")
    return {
        "ddsketch_quantiles_value_by_event_type": oracles.ddsketch_quantiles_sql(
            _EVENT_VALUE_MEASURE_SQL, ["event_type"], QS, CFG,
            order_by="event_type, q",
        ),
        "ddsketch_linear_quantiles_by_event_type": oracles.ddsketch_quantiles_sql(
            _EVENT_VALUE_MEASURE_SQL, ["event_type"], QS, CFG_LINEAR,
            order_by="event_type, q",
        ),
        "ddsketch_cubic_quantiles_by_event_type": oracles.ddsketch_quantiles_sql(
            _EVENT_VALUE_MEASURE_SQL, ["event_type"], QS, CFG_CUBIC,
            order_by="event_type, q",
        ),
        "ddsketch_textlen_by_role": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, order_by="role, q"
        ),
        "ddsketch_conv_duration_by_first_role": oracles.ddsketch_quantiles_sql(
            _CONV_DURATION_MEASURE_SQL, ["first_role"], QS, CFG,
            order_by="first_role, q",
        ),
        "ddsketch_reply_latency_daily": oracles.ddsketch_quantiles_sql(
            _REPLY_LATENCY_MEASURE_SQL, ["day"], QS, CFG,
            order_by="day, q",
        ),
        "ddsketch_quantile_rank_events": oracles.ddsketch_quantile_rank_sql(
            "SELECT event_id, event_type, cast(value AS double) AS v "
            "FROM events",
            ["event_type"],
            ["event_id"],
            CFG,
        )
        + " ORDER BY event_id",
        # batch replay of the streaming monoid features (availableNow == batch)
        "streaming_conv_features": """WITH sgcf_t AS (
  SELECT concat('conv-', lpad(cast(user_id AS string), 8, '0')) AS conv_id,
         CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'user'
              WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'assistant'
              ELSE 'tool' END AS role,
         props AS text, epoch_us(ts) AS tsu, event_id,
         CASE WHEN event_type = 'error' THEN 1 END AS is_tool,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT conv_id,
       cast(count(*) AS bigint) AS n_turns,
       cast(count(is_tool) AS bigint) AS n_tool_turns,
       cast(max(tsu) - min(tsu) AS bigint) AS duration_us,
       cast(sum(length(text)) AS bigint) AS total_chars,
       min(CASE WHEN rn = 1 THEN role END) AS first_role
FROM sgcf_t GROUP BY conv_id ORDER BY conv_id""",
        "transcript_collapse_retries": "SELECT conv_id, turn_idx, role, text,"
        " tool, cast(epoch_us(ts) AS bigint) AS ts_us FROM ("
        + ops_assemble.collapse_retries_sql(transcripts_sql("events"))
        + ") ORDER BY conv_id, turn_idx",
        "transcript_training_set": _training_set_oracle(),
        # warehouse round-trip preserves blobs byte-exactly -> same pivot
        "sketch_warehouse_roundtrip": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, pivot=PIVOT, order_by="role"
        ),
        # CSV round-trip preserves per-turn text -> identical quantiles
        "source_csv_textlen_by_role": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, order_by="role, q"
        ),
        # two grains = union of two single-grain replays (monoid exactness)
        "ddsketch_grouping_sets_quantiles": (
            "SELECT role, tool, q, est FROM ("
            + oracles.ddsketch_quantiles_sql(
                f"SELECT role, tool, cast(length(text) AS double) AS v "
                f"FROM {_TRANSCRIPTS} t WHERE tool IS NOT NULL",
                ["role", "tool"], QS, CFG,
            )
            + ")\nUNION ALL\nSELECT role, 'ALL' AS tool, q, est FROM ("
            + oracles.ddsketch_quantiles_sql(
                f"SELECT role, cast(length(text) AS double) AS v "
                f"FROM {_TRANSCRIPTS} t WHERE tool IS NOT NULL",
                ["role"], QS, CFG,
            )
            + ")\nORDER BY role, tool, q"
        ),
        "ddsketch_latency_by_tool": oracles.ddsketch_quantiles_sql(
            _LATENCY_MEASURE_SQL, ["tool"], QS, CFG, order_by="tool, q"
        ),
        "ddsketch_bins_histogram": (
            "WITH "
            + oracles.ddsketch_bins_sql(_TEXT_LEN_MEASURE_SQL, ["role"], CFG)
            + "\nSELECT role, sign, bucket, count AS cnt FROM sgs_bins"
            " ORDER BY role, sign, bucket"
        ),
        "ddsketch_summary_by_role": oracles.ddsketch_summary_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], CFG
        )
        + " ORDER BY role",
        "ddsketch_udaf_textlen_by_role": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, pivot=PIVOT, order_by="role"
        ),
        # SQL-registered grouped-agg UDFs run the same core sketch
        "sql_api_textlen_by_role": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, pivot=PIVOT, order_by="role"
        ),
        # proto round-trip preserves bins exactly -> identical oracle
        "ddsketch_proto_roundtrip": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, pivot=PIVOT, order_by="role"
        ),
        # all three UDAF build strategies agree bin-for-bin -> identical oracle
        "ddsketch_udaf_bins_strategy": oracles.ddsketch_quantiles_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], QS, CFG, pivot=PIVOT, order_by="role"
        ),
        "ddsketch_daily_quantiles": oracles.ddsketch_quantiles_sql(
            "SELECT substr(cast(ts AS string), 1, 10) AS day, event_type,"
            " cast(value AS double) AS v FROM events",
            ["day", "event_type"], (0.5, 0.95), CFG,
            order_by="day, event_type, q",
        ),
        # direct build on each trailing slice == cube-explode-resum (monoid)
        "ddsketch_sliding_quantiles": oracles.ddsketch_quantiles_sql(
            """SELECT d.day_i, e.event_type, cast(e.value AS double) AS v
FROM events e
JOIN (SELECT DISTINCT date_diff('day', DATE '1970-01-01', cast(ts AS date))
             AS day_i FROM events) d
  ON date_diff('day', DATE '1970-01-01', cast(e.ts AS date))
     BETWEEN d.day_i - 6 AND d.day_i""",
            ["day_i", "event_type"], (0.95,), CFG,
            order_by="day_i, event_type, q",
        ),
        "sessionize_user_events": f"""
WITH sgs_e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
),
sgs_f AS (
  SELECT user_id, event_id, tsu,
    CASE WHEN lag(tsu) OVER w IS NULL
           OR (cast(tsu AS double) - cast(lag(tsu) OVER w AS double))
              > {float(_SESSION_GAP_US)} THEN 1 ELSE 0 END AS ns
  FROM sgs_e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC)
),
sgs_g AS (
  SELECT user_id, event_id, tsu,
    cast(sum(ns) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - 1 AS int) AS session_idx
  FROM sgs_f
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(event_id) AS first_event,
       round(cast(max(tsu) - min(tsu) AS double) / 1000000.0, 6) AS duration_s
FROM sgs_g GROUP BY user_id, session_idx
ORDER BY user_id, session_idx""",
        "interval_join_session_events": f"""
WITH sgs_e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
),
sgs_f AS (
  SELECT user_id, event_id, tsu,
    CASE WHEN lag(tsu) OVER w IS NULL
           OR (cast(tsu AS double) - cast(lag(tsu) OVER w AS double))
              > {float(_SESSION_GAP_US)} THEN 1 ELSE 0 END AS ns
  FROM sgs_e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC)
),
sgs_g AS (
  SELECT user_id, event_id, tsu,
    sum(ns) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_idx
  FROM sgs_f
),
sgs_sess AS (
  SELECT user_id, session_idx, min(tsu) AS s_s, max(tsu) AS s_e,
         min(event_id) AS first_event
  FROM sgs_g GROUP BY user_id, session_idx
)
SELECT e.event_id, e.user_id, s.first_event AS session_first_event
FROM sgs_e e
JOIN sgs_sess s ON s.user_id = e.user_id AND e.tsu BETWEEN s.s_s AND s.s_e
ORDER BY event_id, session_first_event""",
        "retention_weekly": """
WITH sgs_e AS (
  SELECT DISTINCT user_id,
         cast(floor(date_diff('day', DATE '1970-01-01', cast(ts AS date)) / 7.0)
              AS bigint) AS week
  FROM events
),
sgs_first AS (SELECT user_id, min(week) AS cohort FROM sgs_e GROUP BY user_id)
SELECT f.cohort, e.week, count(DISTINCT e.user_id) AS users
FROM sgs_e e JOIN sgs_first f ON f.user_id = e.user_id
GROUP BY f.cohort, e.week ORDER BY cohort, week""",
        # staged conditional-min funnel, identical arithmetic
        "funnel_signup_click_purchase": """
WITH sgs_e AS (
  SELECT user_id, event_type, cast(epoch_us(ts) AS double) AS tsd FROM events
),
sgs_s1 AS (
  SELECT user_id, min(tsd) AS t1 FROM sgs_e
  WHERE event_type = 'signup' GROUP BY user_id
),
sgs_s2 AS (
  SELECT e.user_id, min(e.tsd) AS t2, min(s.t1) AS t1
  FROM sgs_e e JOIN sgs_s1 s ON s.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.tsd >= s.t1 GROUP BY e.user_id
),
sgs_s3 AS (
  SELECT e.user_id, min(e.tsd) AS t3
  FROM sgs_e e JOIN sgs_s2 s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.tsd >= s.t2 GROUP BY e.user_id
),
sgs_n AS (
  SELECT (SELECT count(*) FROM sgs_s1) AS n1,
         (SELECT count(*) FROM sgs_s2) AS n2,
         (SELECT count(*) FROM sgs_s3) AS n3
)
SELECT 1 AS step, 'signup' AS step_name, n1 AS users,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n1 / cast(n1 AS double), 6) END AS conversion FROM sgs_n
UNION ALL
SELECT 2, 'click', n2,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n2 / cast(n1 AS double), 6) END FROM sgs_n
UNION ALL
SELECT 3, 'purchase', n3,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n3 / cast(n1 AS double), 6) END FROM sgs_n
ORDER BY step""",
        # forward = backward on the negated time axis (o_ts = -tsu)
        "asof_signup_next_purchase": """
WITH sgs_e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
),
sgs_u AS (
  SELECT user_id AS k, -cast(tsu AS double) AS o_ts, 1 AS side,
         event_id AS tb, event_id, tsu,
         cast(NULL AS bigint) AS p_event_id, cast(NULL AS bigint) AS p_tsu
  FROM sgs_e WHERE event_type = 'signup'
  UNION ALL
  SELECT user_id, -cast(tsu AS double), 0, event_id,
         cast(NULL AS bigint), cast(NULL AS bigint), event_id, tsu
  FROM sgs_e WHERE event_type = 'purchase'
),
sgs_c AS (
  SELECT event_id, k, tsu,
         last_value(p_event_id IGNORE NULLS) OVER w AS a_event_id,
         last_value(p_tsu IGNORE NULLS) OVER w AS a_tsu,
         side
  FROM sgs_u
  WINDOW w AS (PARTITION BY k ORDER BY o_ts ASC, side ASC, tb ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, a_event_id AS purchase_event_id,
       round(cast(a_tsu - tsu AS double) / 1000000.0, 6) AS wait_s
FROM sgs_c WHERE side = 1 ORDER BY event_id""",
        "asof_purchase_last_click": """
WITH sgs_e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events
),
sgs_u AS (
  SELECT user_id AS k, cast(tsu AS double) AS o_ts, 1 AS side,
         event_id AS tb, event_id, tsu,
         cast(NULL AS bigint) AS p_event_id, cast(NULL AS bigint) AS p_tsu
  FROM sgs_e WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, cast(tsu AS double), 0, event_id,
         cast(NULL AS bigint), cast(NULL AS bigint), event_id, tsu
  FROM sgs_e WHERE event_type = 'click'
),
sgs_c AS (
  SELECT event_id, k, tsu,
         last_value(p_event_id IGNORE NULLS) OVER w AS a_event_id,
         last_value(p_tsu IGNORE NULLS) OVER w AS a_tsu,
         side
  FROM sgs_u
  WINDOW w AS (PARTITION BY k ORDER BY o_ts ASC, side ASC, tb ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, k AS user_id, a_event_id AS click_event_id,
       round(cast(tsu - a_tsu AS double) / 1000000.0, 6) AS gap_s
FROM sgs_c WHERE side = 1 ORDER BY event_id""",
        # identical explicit-sums OLS over the daily p95 relation
        "ddsketch_daily_trend": (
            "WITH sgs_daily AS ("
            + oracles.ddsketch_quantiles_sql(
                "SELECT date_diff('day', DATE '1970-01-01', cast(ts AS date)) "
                "AS day_i, event_type, cast(value AS double) AS v FROM events",
                ["day_i", "event_type"], (0.95,), CFG,
            )
            + """),
sgs_xy AS (
  SELECT event_type, cast(day_i AS double) AS x, est AS y FROM sgs_daily
),
sgs_agg AS (
  SELECT event_type, cast(count(*) AS double) AS n, sum(x) AS sx,
         sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM sgs_xy GROUP BY event_type
)
SELECT event_type, cast(n AS int) AS n_days,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         AS p95_slope_per_day
FROM sgs_agg ORDER BY event_type"""
        ),
        # clamped weighted average over the same bins as the cut points
        "ddsketch_winsorized_mean": (
            "WITH sgs_q AS ("
            + oracles.ddsketch_quantiles_sql(
                _EVENT_VALUE_MEASURE_SQL, ["event_type"], (0.05, 0.95), CFG
            )
            + "),\nsgs_lo AS (SELECT event_type, est AS v_lo FROM sgs_q WHERE q = 0.05),"
            + "\nsgs_hi AS (SELECT event_type, est AS v_hi FROM sgs_q WHERE q = 0.95),"
            + "\nsgs_b AS (WITH "
            + oracles.ddsketch_bins_sql(_EVENT_VALUE_MEASURE_SQL, ["event_type"], CFG)
            + " SELECT * FROM sgs_bins)\n"
            + f"""SELECT b.event_type,
       round(sum(least(greatest(CASE WHEN sign = 1 THEN {oracles.bucket_value_sql(CFG.mapping(), 'bucket')}
                                     WHEN sign = -1 THEN -{oracles.bucket_value_sql(CFG.mapping(), 'bucket')}
                                     ELSE 0.0 END, lo.v_lo), hi.v_hi) * count)
             / sum(count), 6) AS wmean
FROM sgs_b b
JOIN sgs_lo lo ON lo.event_type = b.event_type
JOIN sgs_hi hi ON hi.event_type = b.event_type
GROUP BY b.event_type ORDER BY b.event_type"""
        ),
        # two-pass composition: pass-2 measure references pass-1 medians
        "ddsketch_mad_by_event_type": (
            "WITH sgs_med AS ("
            + oracles.ddsketch_quantiles_sql(
                _EVENT_VALUE_MEASURE_SQL, ["event_type"], (0.5,), CFG
            )
            + "),\nsgs_mad AS ("
            + oracles.ddsketch_quantiles_sql(
                "SELECT e.event_type, abs(cast(e.value AS double) - m.est) AS v "
                "FROM events e JOIN sgs_med m ON m.event_type = e.event_type",
                ["event_type"], (0.5,), CFG,
            )
            + """)
SELECT m.event_type, m.est AS med, d.est AS mad
FROM sgs_med m JOIN sgs_mad d USING (event_type)
ORDER BY event_type"""
        ),
        # sketch-gated outlier rate: the MAD CTEs + threshold + one count
        "ddsketch_outlier_rate": (
            "WITH sgs_med AS ("
            + oracles.ddsketch_quantiles_sql(
                _EVENT_VALUE_MEASURE_SQL, ["event_type"], (0.5,), CFG
            )
            + "),\nsgs_mad AS ("
            + oracles.ddsketch_quantiles_sql(
                "SELECT e.event_type, abs(cast(e.value AS double) - m.est) AS v "
                "FROM events e JOIN sgs_med m ON m.event_type = e.event_type",
                ["event_type"], (0.5,), CFG,
            )
            + """),
sgs_thr AS (
  SELECT m.event_type, m.est + 3.0 * d.est AS thr
  FROM sgs_med m JOIN sgs_mad d USING (event_type)
)
SELECT e.event_type, count(*) AS n,
       cast(sum(CASE WHEN cast(e.value AS double) > t.thr
                     THEN 1 ELSE 0 END) AS bigint) AS n_outliers,
       round(sum(CASE WHEN cast(e.value AS double) > t.thr THEN 1 ELSE 0 END)
             / cast(count(*) AS double), 6) AS outlier_rate
FROM events e JOIN sgs_thr t USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type"""
        ),
        # KS replay: same two periods, value-ordered CDF walk, max gap
        "ddsketch_ks_drift": (
            "WITH sgs_a AS (WITH "
            + oracles.ddsketch_bins_sql(
                "SELECT event_type, cast(value AS double) AS v FROM events "
                f"WHERE substr(cast(ts AS string), 1, 10) >= '{_CUBE_LO}' "
                f"AND substr(cast(ts AS string), 1, 10) <= '{_CUBE_HI}'",
                ["event_type"], CFG,
            )
            + " SELECT event_type, sign, bucket, count FROM sgs_bins),\n"
            + "sgs_b2 AS (WITH "
            + oracles.ddsketch_bins_sql(
                "SELECT event_type, cast(value AS double) AS v FROM events "
                f"WHERE substr(cast(ts AS string), 1, 10) >= '{_PSI_B_LO}' "
                f"AND substr(cast(ts AS string), 1, 10) <= '{_PSI_B_HI}'",
                ["event_type"], CFG,
            )
            + " SELECT event_type, sign, bucket, count FROM sgs_bins),\n"
            + """sgs_fa AS (
  SELECT event_type, sign, bucket,
         count / sum(count) OVER (PARTITION BY event_type) AS fa
  FROM sgs_a
),
sgs_fb AS (
  SELECT event_type, sign, bucket,
         count / sum(count) OVER (PARTITION BY event_type) AS fb
  FROM sgs_b2
),
sgs_j AS (
  SELECT coalesce(a.event_type, b.event_type) AS event_type,
         coalesce(a.sign, b.sign) AS sign,
         coalesce(a.bucket, b.bucket) AS bucket,
         coalesce(a.fa, 0.0) AS fa, coalesce(b.fb, 0.0) AS fb
  FROM sgs_fa a
  FULL OUTER JOIN sgs_fb b
    ON a.event_type = b.event_type AND a.sign = b.sign AND a.bucket = b.bucket
),
sgs_cdf AS (
  SELECT event_type,
         abs(sum(fa) OVER w - sum(fb) OVER w) AS gap
  FROM sgs_j
  WINDOW w AS (PARTITION BY event_type ORDER BY sign ASC, sign * bucket ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, round(max(gap), 6) AS ks
FROM sgs_cdf GROUP BY event_type ORDER BY event_type"""
        ),
        # PSI replay: two range-filtered bins builds, normalized, joined
        "ddsketch_psi_value_drift": (
            "WITH sgs_a AS (WITH "
            + oracles.ddsketch_bins_sql(
                "SELECT event_type, cast(value AS double) AS v FROM events "
                f"WHERE substr(cast(ts AS string), 1, 10) >= '{_CUBE_LO}' "
                f"AND substr(cast(ts AS string), 1, 10) <= '{_CUBE_HI}'",
                ["event_type"], CFG,
            )
            + " SELECT event_type, sign, bucket, count FROM sgs_bins),\n"
            + "sgs_b2 AS (WITH "
            + oracles.ddsketch_bins_sql(
                "SELECT event_type, cast(value AS double) AS v FROM events "
                f"WHERE substr(cast(ts AS string), 1, 10) >= '{_PSI_B_LO}' "
                f"AND substr(cast(ts AS string), 1, 10) <= '{_PSI_B_HI}'",
                ["event_type"], CFG,
            )
            + " SELECT event_type, sign, bucket, count FROM sgs_bins),\n"
            + """sgs_pa AS (
  SELECT event_type, sign, bucket,
         count / sum(count) OVER (PARTITION BY event_type) AS p
  FROM sgs_a
),
sgs_pb AS (
  SELECT event_type, sign, bucket,
         count / sum(count) OVER (PARTITION BY event_type) AS q
  FROM sgs_b2
),
sgs_j AS (
  SELECT coalesce(a.event_type, b.event_type) AS event_type,
         greatest(coalesce(a.p, 0.0), 1e-06) AS p,
         greatest(coalesce(b.q, 0.0), 1e-06) AS q
  FROM sgs_pa a
  FULL OUTER JOIN sgs_pb b
    ON a.event_type = b.event_type AND a.sign = b.sign AND a.bucket = b.bucket
)
SELECT event_type, round(sum((p - q) * ln(p / q)), 6) AS psi
FROM sgs_j GROUP BY event_type ORDER BY event_type"""
        ),
        # Exactness of the cube pattern: bins are a sum-monoid, so
        # cube→filter→rollup equals bins built directly on the range-filtered
        # rows — which is what this oracle computes.
        "ddsketch_cube_range_quantiles": oracles.ddsketch_quantiles_sql(
            "SELECT event_type, cast(value AS double) AS v FROM events "
            f"WHERE substr(cast(ts AS string), 1, 10) >= '{_CUBE_LO}' "
            f"AND substr(cast(ts AS string), 1, 10) <= '{_CUBE_HI}'",
            ["event_type"], QS, CFG, order_by="event_type, q",
        ),
        "ddsketch_collapsed_bins": (
            "WITH "
            + oracles.ddsketch_bins_sql(_LATENCY_MEASURE_SQL, ["tool"], collapsed_cfg)
            + "\nSELECT tool, sign, bucket, count AS cnt FROM sgs_bins"
            " ORDER BY tool, sign, bucket"
        ),
        "ddsketch_collapsed_highest_bins": (
            "WITH "
            + oracles.ddsketch_bins_sql(
                _LATENCY_MEASURE_SQL, ["tool"], collapsed_highest_cfg
            )
            + "\nSELECT tool, sign, bucket, count AS cnt FROM sgs_bins"
            " ORDER BY tool, sign, bucket"
        ),
        "ddsketch_weighted_bins": (
            "WITH "
            + oracles.ddsketch_bins_sql(
                _WEIGHTED_EVENT_MEASURE_SQL, ["event_type"], CFG, weight_expr="w"
            )
            + "\nSELECT event_type, sign, bucket, count AS cnt FROM sgs_bins"
            " ORDER BY event_type, sign, bucket"
        ),
        "hll_registers_convs_by_role": oracles.hll_registers_sql(
            _CONV_BY_ROLE_SQL, ["role"], p=HLL_P
        )
        + " ORDER BY role, reg",
        "hll_distinct_convs_by_role": (
            f"""SELECT e.role, e.est, d.exact_distinct FROM (
{oracles.hll_estimate_sql(_CONV_BY_ROLE_SQL, ["role"], p=HLL_P)}
) e JOIN (
  SELECT role, count(DISTINCT item) AS exact_distinct
  FROM ({_CONV_BY_ROLE_SQL}) GROUP BY role
) d USING (role) ORDER BY role"""
        ),
        "hll_udaf_distinct_by_role": oracles.hll_estimate_sql(
            _CONV_BY_ROLE_SQL, ["role"], p=HLL_P
        )
        + " ORDER BY role",
        # rollup-of-max == registers built on the range-filtered rows
        "hll_cube_range_distinct": oracles.hll_estimate_sql(
            "SELECT event_type, user_id AS item FROM events "
            f"WHERE substr(cast(ts AS string), 1, 10) >= '{_CUBE_LO}' "
            f"AND substr(cast(ts AS string), 1, 10) <= '{_CUBE_HI}'",
            ["event_type"], p=HLL_P,
        )
        + " ORDER BY event_type",
        # direct registers on each trailing slice == cube-explode-remax;
        # the streaming query serves the same windows from stream state
        "streaming_hll_sliding_distinct": oracles.hll_estimate_sql(
            """SELECT d.day_i, e.event_type, e.user_id AS item
FROM events e
JOIN (SELECT DISTINCT date_diff('day', DATE '1970-01-01', cast(ts AS date))
             AS day_i FROM events) d
  ON date_diff('day', DATE '1970-01-01', cast(e.ts AS date))
     BETWEEN d.day_i - 6 AND d.day_i""",
            ["day_i", "event_type"], p=HLL_P,
        )
        + " ORDER BY day_i, event_type",
        "hll_sliding_distinct": oracles.hll_estimate_sql(
            """SELECT d.day_i, e.event_type, e.user_id AS item
FROM events e
JOIN (SELECT DISTINCT date_diff('day', DATE '1970-01-01', cast(ts AS date))
             AS day_i FROM events) d
  ON date_diff('day', DATE '1970-01-01', cast(e.ts AS date))
     BETWEEN d.day_i - 6 AND d.day_i""",
            ["day_i", "event_type"], p=HLL_P,
        )
        + " ORDER BY day_i, event_type",
        # ratio of the daily estimate to the trailing-slice estimate
        "hll_stickiness": (
            "WITH sgs_dau AS ("
            + oracles.hll_estimate_sql(
                "SELECT date_diff('day', DATE '1970-01-01', cast(ts AS date)) AS day_i, user_id AS item FROM events",
                ["day_i"], p=HLL_P,
            )
            + "),\nsgs_wau AS ("
            + oracles.hll_estimate_sql(
                """SELECT d.day_i, e.user_id AS item
FROM events e
JOIN (SELECT DISTINCT date_diff('day', DATE '1970-01-01', cast(ts AS date)) AS day_i FROM events) d
  ON date_diff('day', DATE '1970-01-01', cast(e.ts AS date)) BETWEEN d.day_i - 6 AND d.day_i""",
                ["day_i"], p=HLL_P,
            )
            + """)
SELECT a.day_i, a.est AS dau_est, b.est AS wau_est,
       round(a.est / b.est, 6) AS stickiness
FROM sgs_dau a JOIN sgs_wau b USING (day_i) ORDER BY day_i"""
        ),
        "kmv_event_type_user_overlap": oracles.kmv_overlap_sql(
            "SELECT event_type, user_id AS item FROM events",
            "event_type", k=KMV_K,
        ),
        "cms_tool_counts": oracles.cms_estimate_sql(
            _TOOL_ITEMS_SQL, depth=4, width=512
        )
        + " ORDER BY item",
        # rollup-of-sum == counters built on the range-filtered rows
        "cms_cube_range_counts": oracles.cms_estimate_sql(
            "SELECT cast(user_id AS string) AS item FROM events "
            f"WHERE substr(cast(ts AS string), 1, 10) >= '{_CUBE_LO}' "
            f"AND substr(cast(ts AS string), 1, 10) <= '{_CUBE_HI}'",
            depth=4, width=512,
        )
        + " ORDER BY item",
        "cms_heavy_hitters": oracles.cms_heavy_hitters_sql(
            f"SELECT role, tool AS item FROM {_TRANSCRIPTS} t"
            " WHERE tool IS NOT NULL",
            ["role"], k=5, depth=4, width=256,
        )
        + " ORDER BY role, rank",
        "bloom_probe_tools": oracles.bloom_probe_sql(
            _TOOL_ITEMS_SQL, _BLOOM_PROBES, m_bits=4096, k=5
        )
        + " ORDER BY item",
        # kll / tdigest: the sketch state is non-SQL-expressible, but the
        # rank-error BOUND is: the Spark query verifies |rank(est) - q| <= eps
        # against the exact data and emits the boolean; the oracle asserts the
        # published bound holds for every (role, q)
        "kll_latency_by_role": _rank_bound_oracle_sql(),
        # merged-from-storage estimates must still satisfy the rank bound
        "kll_warehouse_rollup": f"""
SELECT role, q, 1 AS within_bound
FROM (SELECT DISTINCT role FROM {_TRANSCRIPTS} t WHERE tool IS NOT NULL)
CROSS JOIN (SELECT unnest([{", ".join(f"cast({q} AS double)" for q in QS)}]) AS q)
ORDER BY role, q""",
        "tdigest_latency_by_role": _rank_bound_oracle_sql(),
        "streaming_ddsketch_value_by_event_type": oracles.ddsketch_quantiles_sql(
            _EVENT_VALUE_MEASURE_SQL, ["event_type"], QS, CFG,
            order_by="event_type, q",
        ),
        "streaming_hll_registers_by_event_type": oracles.hll_registers_sql(
            "SELECT event_type, cast(user_id AS string) AS item FROM events",
            ["event_type"], p=HLL_P,
        )
        + " ORDER BY event_type, reg",
        # stateful sketch state == batch UDAF sketch -> same pivot replay
        "streaming_stateful_ddsketch_by_event_type": oracles.ddsketch_quantiles_sql(
            _EVENT_VALUE_MEASURE_SQL, ["event_type"], QS, CFG,
            pivot=PIVOT, order_by="event_type",
        ),
        "streaming_cms_counters_by_event_type": oracles.cms_counters_sql(
            "SELECT event_type, cast(user_id AS string) AS item FROM events",
            ["event_type"], depth=4, width=512,
        )
        + " ORDER BY event_type, row, col",
        "streaming_kll_by_event_type": """
SELECT event_type, q, 1 AS within_bound
FROM (SELECT DISTINCT event_type FROM events)
CROSS JOIN (SELECT unnest([cast(0.5 AS double), cast(0.95 AS double), cast(0.99 AS double)]) AS q)
ORDER BY event_type, q""",
        # session_window split rule is strictly-greater (verified in pytest)
        "streaming_session_stats": f"""
WITH sgs_e AS (
  SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events
),
sgs_f AS (
  SELECT user_id, event_id, tsu,
    CASE WHEN lag(tsu) OVER w IS NULL
           OR (cast(tsu AS double) - cast(lag(tsu) OVER w AS double))
              > {float(_SESSION_GAP_US)} THEN 1 ELSE 0 END AS ns
  FROM sgs_e
  WINDOW w AS (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC)
),
sgs_g AS (
  SELECT user_id, event_id, tsu,
    sum(ns) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_idx
  FROM sgs_f
)
SELECT user_id, min(event_id) AS first_event, count(*) AS n_events,
       round(cast(max(tsu) - min(tsu) AS double) / 1000000.0, 6) AS duration_s
FROM sgs_g GROUP BY user_id, session_idx
ORDER BY user_id, first_event""",
        "rel_agg_lineitem": """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        "sketch_after_join": oracles.ddsketch_quantiles_sql(
            _JOIN_MEASURE_SQL, ["c_nationkey"], (0.5, 0.95), CFG,
            order_by="c_nationkey, q",
        ),
        "ddsketch_rollup": oracles.ddsketch_rollup_sql(
            _TEXT_LEN_ROLE_TOOL_SQL, ["role", "tool"], ["role"], CFG
        )
        + " ORDER BY role, sign, bucket",
        "ddsketch_reweight": oracles.ddsketch_reweight_sql(
            _TEXT_LEN_MEASURE_SQL, ["role"], 2.5, CFG
        )
        + " ORDER BY role, sign, bucket",
        "ddsketch_change_mapping": oracles.ddsketch_change_mapping_sql(
            _LATENCY_MEASURE_SQL, ["tool"], CFG, _CHANGE_MAP_NEW
        )
        + " ORDER BY tool, sign, bucket",
        "text_quality": opl.quality_features_oracle(),
        "text_langid": opl.langid_markers_oracle(),
        "text_token_counts": (
            "SELECT doc_id, " + ops_text.token_count_sql("text") + " AS ws_tokens, "
            + ops_text.bpe_token_count_sql("text")
            + " AS bpe_tokens FROM documents ORDER BY doc_id"
        ),
        "text_winnow_fingerprints": ops_text.winnow_fingerprints_sql(k=8, w=16)
        + " ORDER BY doc_id, fp",
        "text_redact_pii": _redact_pii_oracle_sql(),
        "text_tfidf_top_terms": ops_text.tfidf_top_terms_sql("documents", k=3)
        + " ORDER BY doc_id, rank",
        "pack_sequences_documents": packing.pack_sequences_sql(
            "SELECT doc_id, "
            + ops_text.token_count_sql("text")
            + " AS nt FROM documents",
            tokens_expr="nt",
            capacity=256,
            n_shards=8,
        )
        + " ORDER BY doc_id, pack_id",
        "text_bpe_token_counts": ops_bpe.bpe_token_counts_sql("documents"),
        "text_unigram_logprob": ops_text.unigram_logprob_sql("documents"),
        "sample_weighted_by_quality": sampling.weighted_sample_sql(
            "SELECT doc_id, lang, "
            + opl.quality_features_sql("text")["quality_score"]
            + " AS quality_score FROM documents",
            weight_expr="quality_score",
            k=5,
            group_cols=["lang"],
            select_cols="lang, doc_id, quality_score, wkey, rk",
        )
        + " ORDER BY lang, rk",
        "sample_token_budget_by_source": sampling.token_budget_sample_sql(
            "SELECT doc_id, source, "
            + ops_text.token_count_sql("text")
            + " AS nt FROM documents",
            group_cols=["source"],
            token_expr="nt",
            budget=600,
            select_cols="source, doc_id, n_tokens, tokens_before",
        )
        + " ORDER BY source, doc_id",
        "ddsketch_bpe_tokens_by_source": oracles.ddsketch_quantiles_sql(
            "SELECT d.source, cast(b.n_bpe_tokens AS double) AS v FROM ("
            + ops_bpe.bpe_token_counts_sql("documents")
            + ") b JOIN documents d ON b.doc_id = d.doc_id",
            ["source"],
            QS,
            CFG,
            order_by="source, q",
        ),
        "pack_sequences_bpe": packing.pack_sequences_sql(
            ops_bpe.bpe_token_counts_sql("documents"),
            tokens_expr="n_bpe_tokens",
            capacity=256,
            n_shards=8,
        )
        + " ORDER BY doc_id, pack_id",
        "ddsketch_cdf_by_event_type": _cdf_oracle_sql(),
        "transcript_sft_render": ops_assemble.assemble_conversations_sql(
            transcripts_sql("events"), max_turns=64
        )
        + " ORDER BY conv_id",
        "transcript_sft_jsonl": ops_assemble.sft_jsonl_sql(
            ops_assemble.assemble_conversations_sql(
                transcripts_sql("events"), max_turns=64
            )
        )
        + " ORDER BY conv_id",
        "transcript_sft_examples": ops_assemble.sft_examples_sql(
            transcripts_sql("events"), context_turns=4
        )
        + " ORDER BY conv_id, turn_idx",
        "transcript_strip_boilerplate": (
            "SELECT conv_id, turn_idx, role, text, tool, "
            "epoch_us(ts) AS ts_us FROM ("
            + ops_assemble.strip_boilerplate_sql(
                transcripts_sql("events"), min_convs=5
            )
            + ") ORDER BY conv_id, turn_idx"
        ),
        "transcript_split_episodes": ops_assemble.assemble_conversations_sql(
            ops_assemble.split_conversations_sql(
                transcripts_sql("events"), gap_us=43_200 * 10**6
            )
        )
        + " ORDER BY conv_id",
        "transcript_role_transitions": ops_assemble.role_transitions_sql(
            transcripts_sql("events")
        )
        + " ORDER BY from_role, to_role",
        "transcript_tool_affinity": ops_assemble.tool_cooccurrence_sql(
            transcripts_sql("events"), basket_expr="cast(ts AS date)"
        )
        + " ORDER BY tool_a, tool_b",
        "pack_conversations": packing.pack_sequences_sql(
            "SELECT conv_id AS doc_id, "
            + ops_text.token_count_sql("sft_text")
            + " AS n_tokens FROM ("
            + ops_assemble.assemble_conversations_sql(
                transcripts_sql("events")
            )
            + ")",
            capacity=512,
            n_shards=8,
        )
        + " ORDER BY doc_id, pack_id",
        "transcript_validate": ops_assemble.validate_conversations_sql(
            transcripts_sql("events")
        )
        + " ORDER BY conv_id",
        "transcript_truncate_budget": ops_assemble.assemble_conversations_sql(
            ops_assemble.truncate_conversations_sql(
                transcripts_sql("events"), token_budget=8
            )
        )
        + " ORDER BY conv_id",
        "transcript_common_turns": ops_assemble.common_turns_sql(
            transcripts_sql("events"), min_convs=5
        )
        + " ORDER BY n_occurrences DESC, text_norm",
        "dedup_conversations_minhash": opl.minhash_lsh_oracle(
            src="(SELECT conv_id AS doc_id, sft_text AS text FROM ("
            + ops_assemble.assemble_conversations_sql(
                ops_assemble.plant_neardup_conversations_sql(
                    transcripts_sql("events"), every=5
                )
            )
            + "))",
            threshold=0.5,
        ),
        "chunk_documents": packing.chunk_documents_sql(
            "documents", chunk_tokens=64, stride=48
        )
        + " ORDER BY doc_id, chunk_idx",
        # within-window funnel: same staged replay with the first-step-
        # anchored bound on every later stage
        "funnel_within_week": f"""
WITH sgs_e AS (
  SELECT user_id, event_type, cast(epoch_us(ts) AS double) AS tsd FROM events
),
sgs_s1 AS (
  SELECT user_id, min(tsd) AS t1 FROM sgs_e
  WHERE event_type = 'signup' GROUP BY user_id
),
sgs_s2 AS (
  SELECT e.user_id, min(e.tsd) AS t2, min(s.t1) AS t1
  FROM sgs_e e JOIN sgs_s1 s ON s.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.tsd >= s.t1
    AND e.tsd <= s.t1 + {float(_FUNNEL_WITHIN_US)} GROUP BY e.user_id
),
sgs_s3 AS (
  SELECT e.user_id, min(e.tsd) AS t3
  FROM sgs_e e JOIN sgs_s2 s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.tsd >= s.t2
    AND e.tsd <= s.t1 + {float(_FUNNEL_WITHIN_US)} GROUP BY e.user_id
),
sgs_n AS (
  SELECT (SELECT count(*) FROM sgs_s1) AS n1,
         (SELECT count(*) FROM sgs_s2) AS n2,
         (SELECT count(*) FROM sgs_s3) AS n3
)
SELECT 1 AS step, 'signup' AS step_name, n1 AS users,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n1 / cast(n1 AS double), 6) END AS conversion FROM sgs_n
UNION ALL
SELECT 2, 'click', n2,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n2 / cast(n1 AS double), 6) END FROM sgs_n
UNION ALL
SELECT 3, 'purchase', n3,
       CASE WHEN n1 = 0 THEN 0.0
            ELSE round(n3 / cast(n1 AS double), 6) END FROM sgs_n
ORDER BY step""",
        # append-mode finalization: availableNow flushes once more after the
        # last data batch, so the emitted set is exactly the windows whose
        # end the FINAL watermark passed — day + 2 days <= max(ts)
        "streaming_append_daily_quantiles": oracles.ddsketch_quantiles_sql(
            "SELECT substr(cast(ts AS string), 1, 10) AS day, event_type,"
            " cast(value AS double) AS v FROM events"
            " WHERE cast(substr(cast(ts AS string), 1, 10) AS timestamp)"
            " + INTERVAL 2 DAY <= (SELECT max(ts) FROM events)",
            ["day", "event_type"], (0.5, 0.95), CFG,
            order_by="day, event_type, q",
        ),
        # nearest = pick-closer over the backward/forward lateral argmins,
        # identical tie rules to the one-pass window formulation
        "asof_nearest_purchase_click": """
WITH sgs_l AS (
  SELECT event_id, user_id, cast(epoch_us(ts) AS double) AS tsu
  FROM events WHERE event_type = 'purchase'
),
sgs_r AS (
  SELECT event_id, user_id, cast(epoch_us(ts) AS double) AS tsu
  FROM events WHERE event_type = 'click'
)
SELECT l.event_id, l.user_id,
       CASE WHEN p.event_id IS NOT NULL
                 AND (n.event_id IS NULL OR (l.tsu - p.tsu) <= (n.tsu - l.tsu))
            THEN p.event_id ELSE n.event_id END AS click_event_id,
       round(CASE WHEN p.event_id IS NOT NULL
                       AND (n.event_id IS NULL OR (l.tsu - p.tsu) <= (n.tsu - l.tsu))
                  THEN (l.tsu - p.tsu)
                  ELSE (n.tsu - l.tsu) END / 1e6, 6) AS dist_s
FROM sgs_l l
LEFT JOIN LATERAL (
  SELECT r.event_id, r.tsu FROM sgs_r r
  WHERE r.user_id = l.user_id AND r.tsu <= l.tsu
  ORDER BY r.tsu DESC, r.event_id DESC LIMIT 1
) p ON true
LEFT JOIN LATERAL (
  SELECT r.event_id, r.tsu FROM sgs_r r
  WHERE r.user_id = l.user_id AND r.tsu > l.tsu
  ORDER BY r.tsu ASC, r.event_id ASC LIMIT 1
) n ON true
ORDER BY l.event_id""",
        # streaming state == batch aggregation (min/count are order-free
        # monoids over the content fingerprint)
        "streaming_dedup_exact": (
            "SELECT fingerprint, min(doc_id) AS canonical_id,"
            " count(*) AS n_copies FROM (SELECT doc_id, "
            + ops_text.doc_fingerprint_sql("text")
            + " AS fingerprint FROM documents)"
            " GROUP BY fingerprint ORDER BY fingerprint"
        ),
        "streaming_dedup_minhash": opl.minhash_buckets_oracle(),
        "dedup_exact": opl.exact_dedup_oracle(),
        "dedup_ngram_jaccard": opl.ngram_jaccard_oracle(threshold=0.5),
        "dedup_minhash_lsh": opl.minhash_lsh_oracle(threshold=0.5),
        "dedup_simhash": opl.simhash_oracle(),
        "dedup_simhash_pairs": opl.simhash_pairs_oracle(max_hamming=1),
        "dedup_simhash_pairs_global": opl.simhash_pairs_global_oracle(max_hamming=3),
        "dedup_components": opl.components_oracle(max_hamming=3),
        # the incremental query must equal the FULL recompute on the union
        # corpus — same closure oracle as dedup_components by design
        "dedup_incremental_shard": opl.components_oracle(max_hamming=3),
        "dedup_canonical_docs": opl.canonical_docs_oracle(max_hamming=3),
        "text_winnow_containment": opl.winnow_containment_oracle(threshold=0.5),
        "text_repetition": opl.repetition_oracle(),
        "text_benchmark_contamination": opl.benchmark_contamination_oracle(
            threshold=0.5
        ),
        "sample_split_documents": opl.sample_split_oracle(rate=0.1),
        "sample_stratified_by_lang": opl.stratified_topk_oracle(key="lang", k=5),
        # per-group floor thresholds + the same portable hash filter
        "sample_rebalance_by_lang": """
WITH sgs_cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
sgs_tgt AS (SELECT min(n) AS tgt FROM sgs_cnt),
sgs_thr AS (
  SELECT lang,
         cast(floor(least(1.0, cast(t.tgt AS double) / c.n) * 1000000)
              AS bigint) AS thr
  FROM sgs_cnt c CROSS JOIN sgs_tgt t
)
SELECT d.doc_id, d.lang
FROM documents d JOIN sgs_thr USING (lang)
WHERE cast(concat('0x', substr(md5(concat('rebal:',
        cast(d.doc_id as string))), 1, 15)) as bigint) % 1000000 < thr
ORDER BY doc_id""",
        "sketch_range_bucket_counts": (
            "WITH sgs_rb AS ("
            + oracles.ddsketch_quantiles_sql(
                "SELECT 'all' AS _g, cast(value AS double) AS v FROM events",
                ["_g"],
                [k / 16 for k in range(1, 16)],
                CFG,
            )
            + """)
SELECT cast((SELECT count(*) FROM sgs_rb b WHERE b.est <= m.v) AS int)
         AS range_bucket,
       count(*) AS n
FROM (SELECT cast(value AS double) AS v FROM events) m
GROUP BY range_bucket ORDER BY range_bucket"""
        ),
        "text_strip_common_lines": ops_text.strip_common_lines_sql(
            ops_text.plant_common_lines_sql(
                "SELECT doc_id, text FROM documents", every=4
            ),
            min_docs=3,
        )
        + " ORDER BY doc_id",
        "sample_temperature_by_lang": (
            "SELECT doc_id, lang FROM ("
            + sampling.temperature_sample_sql(
                "SELECT * FROM documents", ["lang"], alpha=0.5
            )
            + ") ORDER BY doc_id"
        ),
        "sample_resample_by_lang": (
            "SELECT doc_id, lang, copy_idx FROM ("
            + sampling.temperature_resample_sql(
                "SELECT * FROM documents", ["lang"], alpha=0.5
            )
            + ") ORDER BY doc_id, copy_idx"
        ),
        "kmeans_assign_embeddings": sim.kmeans_oracle_sql(k=8, iters=3),
        "sim_topk_bruteforce": opl.brute_force_topk_oracle(),
        "sim_ann_lsh": opl.lsh_ann_topk_oracle(),
        "sim_ivf_topk": opl.ivf_topk_oracle(n_centroids=16, nprobe=4),
        "sim_ivf_trained_topk": opl.ivf_trained_topk_oracle(
            km_k=8, iters=2, nprobe=3
        ),
        "embedding_neardup": opl.embedding_neardup_oracle(
            threshold=0.3, bucket_cap=400
        ),
        "embedding_components": opl.closure_over_pairs_sql(
            "SELECT id_a, id_b FROM ("
            + opl.embedding_neardup_oracle(
                threshold=0.3, bucket_cap=400
            ).rsplit("ORDER BY", 1)[0]
            + ")",
            "embeddings", "vec_id",
        ),
        # frame grid size is pure arithmetic on the deterministic metadata:
        # sequence(0, duration_ms-1, 1000) has pmod(doc_id, 60) + 1 elements
        # (sign-safe modulo matches Spark's pmod even for negative doc_ids)
        "multimodal_frame_grid": (
            "SELECT 'video-' || CAST(doc_id AS VARCHAR) AS media_id,"
            " ((doc_id % 60) + 60) % 60 + 1 AS n_frames"
            " FROM documents ORDER BY media_id"
        ),
        "multimodal_image_features": _IMAGE_FEATURES_ORACLE_SQL,
        "multimodal_audio_features": _AUDIO_FEATURES_ORACLE_SQL,
        "multimodal_image_resize": _IMAGE_RESIZE_ORACLE_SQL,
    }
