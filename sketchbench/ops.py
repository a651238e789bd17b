"""Workloads, operations and correctness checks of the sketch benchmark.

Every operation calls the package's public functions with their defaults
(no ``strategy=``), so a later change to the default build path is measured
without editing this file.  Each operation takes a tracer: the untraced
tracer runs the operation as one Spark plan, the traced one materializes the
output of every public call inside its own span (see ``tracing.py``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core.hashing import portable_hash64_np
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLSketch
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.functions import sketch_fns as sk
from sketches_go_spark.functions.expressions import sign_bucket
from sketches_go_spark.sources import io
from sketches_go_spark.sources.transcripts import synth_transcripts

QS = (0.5, 0.95, 0.99)
QCOLS = ("p50", "p95", "p99")
OPS = ("q_relational", "q_blob", "q_distinct", "q_rank")
STORED = ("bins", "ddsketch", "hll", "kll")

# 77 tools plus the three tool-less roles give 80 (role, tool) groups.
N_TOOLS = 77
# Two independently rounded 6-decimal estimates of one value may differ by
# one unit in the last place.
ROUND_TOL = 1e-6
# Envelope slack of tests/oracle.py plus the 6-decimal rounding of estimates.
ENVELOPE_TOL = 1e-11 + 0.5e-6
# HLL accuracy envelope in relative standard errors (1.04/sqrt(m)), the one
# tests/test_crosscheck_builtins.py uses.
HLL_SIGMAS = 5.0

ALPHA = DDSketchConfig().alpha
KLL_EPS = KLLSketch().epsilon
HLL_SIGMA = HyperLogLog.relative_standard_error(HyperLogLog().p)
# KLL error is measured over the whole rank range, not only at QS: the worst
# of many ranks is a steadier figure than the worst of three.
RANK_GRID = np.arange(1, 100) / 100


@dataclass(frozen=True)
class Workload:
    name: str
    n_turns: int
    keys: tuple[str, ...]  # the grain every query answers at
    item: str  # the column q_distinct counts
    shards: int = 0  # > 0: queries answer from partials stored per shard
    hot_frac: float = 0.02  # share of conversations folded into 3 hot ones

    @property
    def store_keys(self) -> tuple[str, ...]:
        return self.keys + (("shard",) if self.shards else ())


# Sizes keep one run (session start, inputs, the warm-up and five timed
# repetitions) near a minute on a 4-core host, so the benchmark's
# runs fit its time budget.  At these sizes Spark's fixed cost per query
# (planning and scheduling its jobs, about 0.8-1 s here) is most of every
# query but per_conv's q_blob; the README gives the split.
WORKLOADS = {
    # ~N/10 conversations of ~10 values plus three hot ones (~N/50 values
    # each, enough for KLL to compact): map-side combine finds nothing, and
    # q_blob's per-group Python build, encode and decode are about half of it.
    "per_conv": Workload("per_conv", 20_000, ("conv_id",), "turn_idx", hot_frac=0.06),
    # ~80 (role, tool) groups stored as partials per shard; every query
    # decodes and merges them: no raw scan, no bucket mapping.
    "rollup": Workload("rollup", 80_000, ("role", "tool"), "conv_id", shards=16),
}


def scaled(wl: Workload, scale: float) -> Workload:
    return replace(wl, n_turns=max(1000, int(wl.n_turns * scale)))


def make_turns(spark, wl: Workload, seed: int, path: str):
    """Materialize the workload's turns from the seed and read them back."""
    df = synth_transcripts(spark, wl.n_turns, seed=str(seed), n_tools=N_TOOLS,
                           skew_head_frac=wl.hot_frac).select(
        "conv_id", "turn_idx", "role", "tool", F.length("text").cast("double").alias("v")
    )
    if wl.shards:
        df = df.withColumn("shard", F.pmod(F.xxhash64("conv_id"), F.lit(wl.shards)).cast("int"))
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# --------------------------------------------------------------------- ops
@dataclass
class Ctx:
    spark: object
    wl: Workload
    turns: object  # DataFrame of raw turns
    store_dir: str  # partials the rollup queries read


def _keys(wl):
    return list(wl.keys)


def q_relational(ctx: Ctx, t):
    k = _keys(ctx.wl)
    if ctx.wl.shards:
        bins = t.cut("io.read_sketches", lambda: io.read_sketches(ctx.spark, f"{ctx.store_dir}/bins"))
        bins = t.cut("ddsketch_fns.rollup_bins", lambda: dd.rollup_bins(bins, list(ctx.wl.store_keys), k))
        return t.collect("ddsketch_fns.quantiles_from_bins", lambda: dd.quantiles_from_bins(bins, k))
    if not t.traced:
        return t.collect("ddsketch_fns.ddsketch_quantiles_relational",
                         lambda: dd.ddsketch_quantiles_relational(ctx.turns, "v", k))
    # probes: the scan alone, then the same scan with the bucket mapping
    t.noop("sources.scan", lambda: ctx.turns.select(*k, "v"))
    sign, bucket = sign_bucket(F.col("v"), DDSketchConfig().mapping())
    t.noop("expressions.sign_bucket", lambda: ctx.turns.select(*k, sign, bucket))
    bins = t.cut("ddsketch_fns.build_bins", lambda: dd.build_bins(ctx.turns, "v", k))
    return t.collect("ddsketch_fns.quantiles_from_bins", lambda: dd.quantiles_from_bins(bins, k))


def _blob_answers(t, blobs, k):
    return t.collect("ddsketch_fns.with_quantiles", lambda: dd.with_quantiles(blobs).select(
        *k, F.length("sketch").alias("nbytes"), *QCOLS))


def q_blob(ctx: Ctx, t):
    k = _keys(ctx.wl)
    if ctx.wl.shards:
        parts = t.cut("io.read_sketches",
                      lambda: io.read_sketches(ctx.spark, f"{ctx.store_dir}/ddsketch").select(*k, "sketch"))
        blobs = t.cut("ddsketch_fns.ddsketch_merge", lambda: dd.ddsketch_merge(parts, k))
    else:
        blobs = t.cut("ddsketch_fns.ddsketch_agg", lambda: dd.ddsketch_agg(ctx.turns, "v", k))
    return _blob_answers(t, blobs, k)


def _merged(ctx, t, kind, decode):
    k = _keys(ctx.wl)
    parts = t.cut("io.read_sketches",
                  lambda: io.read_sketches(ctx.spark, f"{ctx.store_dir}/{kind}").select(*k, "sketch"))
    return t.cut("sketch_fns.two_phase_merge", lambda: sk.two_phase_merge(parts, k, decode))


def q_distinct(ctx: Ctx, t):
    k = _keys(ctx.wl)
    if ctx.wl.shards:
        blobs = _merged(ctx, t, "hll", HyperLogLog.from_bytes)
    else:
        blobs = t.cut("sketch_fns.hll_agg", lambda: sk.hll_agg(ctx.turns, ctx.wl.item, k))
    return t.collect("sketch_fns.hll_estimate_udf",
                     lambda: blobs.select(*k, sk.hll_estimate_udf(F.col("sketch")).alias("est")))


def q_rank(ctx: Ctx, t):
    k = _keys(ctx.wl)
    if ctx.wl.shards:
        blobs = _merged(ctx, t, "kll", KLLSketch.from_bytes)
    else:
        blobs = t.cut("sketch_fns.kll_agg", lambda: sk.kll_agg(ctx.turns, "v", k))
    return t.collect("sketch_fns.with_sketch_quantiles", lambda: sk.with_sketch_quantiles(
        blobs, KLLSketch.from_bytes, QS).select(*k, "sketch", *QCOLS))


def build_store(turns, wl: Workload, out: str, t) -> None:
    """Build the workload's partial sketches at its store grain and write
    them: DDSketch bins and blobs, HLL and KLL blobs."""
    g = list(wl.store_keys)
    builds = {
        "bins": ("ddsketch_fns.build_bins", lambda: dd.build_bins(turns, "v", g)),
        "ddsketch": ("ddsketch_fns.ddsketch_agg", lambda: dd.ddsketch_agg(turns, "v", g)),
        "hll": ("sketch_fns.hll_agg", lambda: sk.hll_agg(turns, wl.item, g)),
        "kll": ("sketch_fns.kll_agg", lambda: sk.kll_agg(turns, "v", g)),
    }
    for kind, (name, make) in builds.items():
        df = t.cut(name, make)
        with t.span("io.write_sketches"):
            io.write_sketches(df, f"{out}/{kind}")


OP_FNS = {"q_relational": q_relational, "q_blob": q_blob, "q_distinct": q_distinct,
          "q_rank": q_rank}


# --------------------------------------------------------------- references
def _norm(x):
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return None
    return x.item() if isinstance(x, np.generic) else x


def key_tuples(pdf: pd.DataFrame, keys) -> list[tuple]:
    cols = [pdf[k].tolist() for k in keys]
    return [tuple(_norm(x) for x in row) for row in zip(*cols)]


@dataclass
class Reference:
    """Exact answers per group, computed on the driver from the raw turns."""

    values: dict  # group -> sorted float64 values
    distinct: dict  # group -> exact distinct count of the item
    direct: dict = field(default_factory=dict)  # group -> direct DDSketch estimates
    direct_hll: dict = field(default_factory=dict)  # group -> direct HLL estimate
    store_rows: dict = field(default_factory=dict)  # stored relation -> row count

    def envelope(self, g, q):
        v = self.values[g]
        rank = q * (v.size - 1)
        return float(v[math.floor(rank)]), float(v[math.ceil(rank)])


def build_reference(raw: pd.DataFrame, wl: Workload) -> Reference:
    keys = list(wl.keys)
    values, distinct, direct, direct_hll = {}, {}, {}, {}
    hashes = {}
    if wl.shards:
        uniq = raw[wl.item].unique()
        hashes = dict(zip(uniq, portable_hash64_np(uniq)))
    for gk, sub in raw.groupby(keys, dropna=False, sort=False):
        g = tuple(_norm(x) for x in (gk if isinstance(gk, tuple) else (gk,)))
        v = np.sort(sub["v"].to_numpy(dtype=np.float64))
        values[g] = v
        items = sub[wl.item].unique()
        distinct[g] = len(items)
        if wl.shards:
            direct[g] = np.round(DDSketch(config=DDSketchConfig()).add(v).quantiles(QS), 6)
            h = HyperLogLog().add_hashes(np.array([hashes[i] for i in items], dtype=np.int64))
            direct_hll[g] = round(h.estimate(), 4)
    ref = Reference(values, distinct, direct, direct_hll)
    grain = list(wl.store_keys)
    store_groups = len(raw.drop_duplicates(grain))
    ref.store_rows = {kind: store_groups for kind in STORED}
    bucket = DDSketchConfig().mapping().index(raw["v"].to_numpy(dtype=np.float64))
    ref.store_rows["bins"] = len(raw[grain].assign(_b=bucket).drop_duplicates())
    return ref


# ------------------------------------------------------------------ checks
@dataclass
class Score:
    """Accuracy seen over a run; an op passes only if all its checks pass."""

    max_rel_err_over_alpha: float = 0.0
    kll_max_rank_err_over_eps: float = 0.0
    blob_bytes: list = field(default_factory=list)
    problems: list = field(default_factory=list)

    def fail(self, op, msg) -> bool:
        self.problems.append(f"{op}: {msg}")
        return False


def _by_group(pdf, keys, cols):
    return dict(zip(key_tuples(pdf, keys), pdf[list(cols)].to_numpy(dtype=np.float64)))


def _same_groups(score, op, got: dict, ref: Reference) -> bool:
    if set(got) != set(ref.values):
        return score.fail(op, f"{len(got)} groups, expected {len(ref.values)}")
    return True


def _envelope_err(ref: Reference, g, q, est) -> float:
    """Relative distance of est outside the exact [lower, upper] quantile
    envelope; 0 inside it."""
    lo, hi = ref.envelope(g, q)
    if est < lo:
        return (lo - est) / max(abs(lo), ENVELOPE_TOL)
    if est > hi:
        return (est - hi) / max(abs(hi), ENVELOPE_TOL)
    return 0.0


def check_quantiles(score, op, est: dict, ref: Reference, direct: bool) -> bool:
    ok = _same_groups(score, op, est, ref)
    for g, row in est.items():
        if g not in ref.values:
            continue
        for q, e in zip(QS, row):
            lo, hi = ref.envelope(g, q)
            err = _envelope_err(ref, g, q, e)
            score.max_rel_err_over_alpha = max(score.max_rel_err_over_alpha, err / ALPHA)
            if not (lo - abs(lo) * ALPHA - ENVELOPE_TOL <= e <= hi + abs(hi) * ALPHA + ENVELOPE_TOL):
                ok = score.fail(op, f"{g} q={q}: {e} outside alpha envelope of [{lo}, {hi}]")
        if direct and np.any(np.abs(row - ref.direct[g]) > ROUND_TOL):
            ok = score.fail(op, f"{g}: merged {row} != direct build {ref.direct[g]}")
    return ok


def check_rank(score, op, pdf: pd.DataFrame, keys, ref: Reference) -> bool:
    """Each answer must be its sketch's, and the sketch within eps in rank of
    the exact lower/upper quantile over RANK_GRID."""
    got = dict(zip(key_tuples(pdf, keys), zip(pdf["sketch"], pdf[list(QCOLS)].to_numpy(np.float64))))
    ok = _same_groups(score, op, got, ref)
    for g, (blob, row) in got.items():
        if g not in ref.values:
            continue
        sk = KLLSketch.from_bytes(bytes(blob))
        if not np.array_equal(sk.quantiles(QS), row):
            ok = score.fail(op, f"{g}: answer {row} is not its sketch's")
        v = ref.values[g]
        rank = RANK_GRID * (v.size - 1)
        est = sk.quantiles(RANK_GRID)
        # positions of each estimate among the exact values, against the
        # positions of the exact lower/upper quantile
        first = np.searchsorted(v, est, side="left")
        last = np.searchsorted(v, est, side="right") - 1
        err = np.maximum(np.maximum(first - np.ceil(rank), np.floor(rank) - last), 0) / v.size
        worst = float(err.max())
        score.kll_max_rank_err_over_eps = max(score.kll_max_rank_err_over_eps, worst / KLL_EPS)
        if worst > KLL_EPS:
            ok = score.fail(op, f"{g}: rank error {worst:.4f} > eps {KLL_EPS}")
    return ok


def check_distinct(score, op, est: dict, ref: Reference) -> bool:
    ok = _same_groups(score, op, est, ref)
    for g, (e,) in est.items():
        if g not in ref.distinct:
            continue
        exact = ref.distinct[g]
        if abs(e - exact) > HLL_SIGMAS * HLL_SIGMA * exact:
            ok = score.fail(op, f"{g}: HLL {e} vs exact {exact}")
        if ref.direct_hll and e != ref.direct_hll[g]:
            ok = score.fail(op, f"{g}: merged HLL {e} != direct {ref.direct_hll[g]}")
    return ok


def check_rep(score: Score, wl: Workload, ref: Reference, outs: dict) -> dict:
    """Check one repetition's outputs; returns op -> passed.  An op missing
    from ``outs`` raised and fails."""
    keys = list(wl.keys)
    passed = {op: False for op in OPS}
    rel = blob = None
    if outs.get("q_relational") is not None:
        pdf = outs["q_relational"]
        rel = {}
        for g, q, e in zip(key_tuples(pdf, keys), pdf["q"], pdf["est"]):
            rel.setdefault(g, np.full(len(QS), np.nan))[QS.index(q)] = e
        passed["q_relational"] = check_quantiles(score, "q_relational", rel, ref, bool(wl.shards))
    if outs.get("q_blob") is not None:
        pdf = outs["q_blob"]
        blob = _by_group(pdf, keys, QCOLS)
        score.blob_bytes.extend(pdf["nbytes"].tolist())
        ok = check_quantiles(score, "q_blob", blob, ref, bool(wl.shards))
        if rel is not None:
            for g, row in blob.items():
                if g not in rel or np.any(np.abs(row - rel[g]) > ROUND_TOL):
                    ok = score.fail("q_blob", f"{g}: blob {row} != relational {rel.get(g)}")
        passed["q_blob"] = ok
    if outs.get("q_distinct") is not None:
        passed["q_distinct"] = check_distinct(
            score, "q_distinct", _by_group(outs["q_distinct"], keys, ["est"]), ref)
    if outs.get("q_rank") is not None:
        passed["q_rank"] = check_rank(score, "q_rank", outs["q_rank"], keys, ref)
    return passed


def answer_drift(wl: Workload, a: dict, b: dict) -> list[str]:
    """Ops whose answers differ between two repetitions of the same inputs
    (6-decimal rounding).  KLL is left out: its compactions depend on the
    order rows reach a group, which Spark does not fix."""
    keys = list(wl.keys)
    cols = {"q_relational": ["q", "est"], "q_blob": list(QCOLS), "q_distinct": ["est"]}
    drift = []
    for op, c in cols.items():
        if a.get(op) is None or b.get(op) is None:
            continue
        order = keys + (["q"] if op == "q_relational" else [])
        x, y = (d[op].sort_values(order).reset_index(drop=True) for d in (a, b))
        if (key_tuples(x, keys) != key_tuples(y, keys)
                or not np.allclose(x[c].to_numpy(np.float64), y[c].to_numpy(np.float64),
                                   rtol=0, atol=ROUND_TOL, equal_nan=True)):
            drift.append(op)
    return drift


def check_store(score: Score, ref: Reference, rows: dict) -> bool:
    """The store wrote one row per group (bins: per group and bucket)."""
    bad = {k: v for k, v in rows.items() if v != ref.store_rows[k]}
    return not bad or score.fail("store", f"rows {bad} != {ref.store_rows}")
