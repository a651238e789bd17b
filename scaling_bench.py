"""Scaling-efficiency benchmark: the same sketch job at two parallelism
levels (by default local[nproc // 4] vs local[nproc] — the single-host proxy for
N vs 4N executors, per BASELINE.md), reporting throughput at both and
efficiency = speedup / (high / low).

Run:  python scaling_bench.py [--turns 100000000] [--low N --high 4N]

Protocol (hard-won on this host — see BASELINE.md "environment notes"):
- each level runs in a fresh subprocess JVM, heap scaled with cores
  (ParallelGC: the default G1 degrades 3-4x under 16+ allocating threads);
- one warm-up execution then N timed executions; the estimator is
  **min-of-N** — the host shows intermittent multi-x interference, and
  interference only ever slows a run down, so the minimum approximates
  uncontended capacity;
- the measured job is the relational DDSketch build+extract over a
  pre-materialized numeric transcripts table (100M rows).  CPU-bound per
  byte; on one box, local[8]->local[32] multiplies CPUs but NOT memory
  bandwidth (a real cluster multiplies both), so scan/allocation-bound jobs
  understate multi-executor scaling by construction.
- NOTHING else may run during measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

_RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from sketches_go_spark.plans.session import get_spark
from sketches_go_spark.core.ddsketch import DDSketchConfig
from sketches_go_spark.functions import ddsketch_fns as dd

cores = {cores}
spark = get_spark(cores=cores, shuffle_partitions=2 * cores,
                  extra_conf={{"spark.sql.files.maxPartitionBytes": "16m"}})
spark.sparkContext.setLogLevel("ERROR")
job_kind = {job!r}
t = None if job_kind == "components" else spark.read.parquet({cache!r})
cfg = DDSketchConfig(alpha=0.01)
measure = ((F.unix_micros(F.col("ts").cast("timestamp")) % 100000) + 1).cast("double")

if job_kind == "components":
    # Deterministic dedup-shaped graph built from the row index (no data
    # file), sized by --turns = edge count: 10-node chain clusters for the
    # bulk of the edges + one 65,536-node chain — the worst-diameter shape
    # that forces the O(log^2 n) round count to actually show up (dedup
    # graphs in the wild converge in <5 rounds; the chain is the
    # adversarial upper end).
    from sketches_go_spark.operators.dedup import connected_components
    _n_small = {turns} - 65_535
    _cc_small = (
        spark.range(_n_small + (_n_small // 9) + 2)
        .where(F.pmod(F.col("id"), F.lit(10)) != 9)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .limit(_n_small)
    )
    _off = 10 * {turns}
    _cc_giant = spark.range(65_535).select(
        (F.col("id") + _off).alias("id_a"), (F.col("id") + _off + 1).alias("id_b")
    )
    _cc_edges = _cc_small.union(_cc_giant)

def job():
    if job_kind == "components":
        # iterative closure: alternating large-star/small-star rounds until
        # the edge set is a fixpoint; only (bigint, bigint) rows ever shuffle
        return connected_components(_cc_edges, checkpoint=True).count()
    if job_kind == "minhash":
        # the dedup-pipeline scaling shape: per-row HOF MinHash signatures
        # (CPU-bound hashing, zero shuffle) + the banded bucket summary (one
        # map-side-combinable min/count aggregation) — production xxhash64
        # family (the md5 oracle family would measure md5, not the operator).
        # NOTE: the docs cache has (doc_id, text) only — this branch must
        # run before the transcripts-shaped src projection below.
        from sketches_go_spark.operators.dedup import (
            band_buckets_expr, minhash_signatures_rowwise)
        from sketches_go_spark.functions.expressions import xxhash64_fn
        sigs = minhash_signatures_rowwise(
            t, "doc_id", "text", num_perm=16, hash_fn=xxhash64_fn)
        b = sigs.select(
            "doc_id",
            F.explode(band_buckets_expr(16, 4, xxhash64_fn)).alias("bb"),
        ).select("doc_id", F.col("bb.band").alias("band"),
                 F.col("bb.bucket").alias("bucket"))
        return b.groupBy("band", "bucket").agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        ).count()
    if job_kind == "assemble":
        # the transcripts-payload flagship: collapse turns into rendered
        # role-tagged SFT examples + loader features.  Turn text is
        # synthesized deterministically from the key (~120 chars/turn) so
        # the text-free cache is reused; the synthesis cost is identical at
        # both parallelism levels and tiny next to the conv_id shuffle +
        # in-group sort + render it feeds.
        from sketches_go_spark.operators.assemble import assemble_conversations
        txt = F.rpad(
            F.concat(F.lit("t:"), F.col("conv_id"), F.lit(":"),
                     F.col("turn_idx").cast("string"), F.lit(" ")),
            120, "loremipsum dolorsit ")
        a_src = t.select(
            "conv_id", "turn_idx", "role",
            F.when(F.col("role") == "tool", F.col("tool")).alias("tool"),
            txt.alias("text"), "ts")
        out = assemble_conversations(a_src, max_turns=64)
        # aggregating sft_chars forces the render (a bare count() would let
        # Catalyst prune the rendered column away)
        return out.agg(F.sum("sft_chars"), F.sum("n_turns")).collect()
    if job_kind == "qrank":
        # per-row quantile normalization: one tiny bins aggregation, a
        # value-order cumsum over it, then a BROADCAST join back — the data
        # rows never shuffle, so scaling should track the scan itself
        out = dd.with_quantile_rank(
            t.select("role", measure.alias("v")), "v", ["role"], cfg)
        return out.agg(F.sum("qrank")).collect()
    src = t.select("role", "tool", measure.alias("v"))
    if job_kind == "udaf":
        # CPU-bound per byte: Arrow transfer + vectorized numpy partial build
        # + encode + streaming merge (the python-path operator profile)
        return dd.with_quantiles(
            dd.ddsketch_agg(src, "v", ["role", "tool"], cfg, strategy="combine"),
            (0.5, 0.95, 0.99),
        ).count()
    if job_kind == "udaf_bins":
        # the boundary mitigation: blobs assembled FROM the relational bins
        # relation (raw rows never cross the Arrow boundary)
        return dd.with_quantiles(
            dd.ddsketch_agg(src, "v", ["role", "tool"], cfg, strategy="bins"),
            (0.5, 0.95, 0.99),
        ).count()
    if job_kind in ("skew_unsalted", "skew_salted", "skew_combine"):
        # one hot key owning ~87.5%% of rows among 20 groups: the repartition
        # build strategy puts the whole hot key in ONE task; row-level
        # salting splits it across 32 tasks with identical output; the
        # map-side-combined 'combine' strategy never concentrates the key at
        # all (few-fat-groups regime — salting every group of a
        # high-cardinality key would explode partial counts instead)
        from sketches_go_spark.plans.twophase import salted_rows_ddsketch_agg
        skew_src = t.select(
            F.when(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)) < 7,
                   F.lit("g-hot"))
            .otherwise(F.concat(F.lit("g-"),
                                (F.abs(F.xxhash64("conv_id")) % 19).cast("string")))
            .alias("g"),
            measure.alias("v"),
        )
        if job_kind == "skew_salted":
            return salted_rows_ddsketch_agg(skew_src, "v", ["g"], cfg,
                                            num_salts=32).count()
        if job_kind == "skew_combine":
            return dd.ddsketch_agg(skew_src, "v", ["g"], cfg,
                                   strategy="combine").count()
        return dd.ddsketch_agg(skew_src, "v", ["g"], cfg,
                               strategy="repartition").count()
    if job_kind == "temporal":
        # the workload's dominant raw-row shuffle shape: one window exchange
        # on the conversation key (10M groups x 10 rows), then per-session
        # rollup — the sessionize operator end to end
        from sketches_go_spark.operators.temporal import sessionize
        ev = t.select(
            "conv_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
            F.col("turn_idx").cast("bigint").alias("tb"),
        )
        s = sessionize(ev, "conv_id", "tsu", "tb", gap=60_000_000)
        return s.groupBy("conv_id", "session_idx").count().count()
    return dd.ddsketch_quantiles_relational(
        src, "v", ["role", "tool"], (0.5, 0.95, 0.99), cfg
    ).count()

job()  # warm-up (codegen + page cache + python worker pool)
times = []
for _ in range({reps}):
    t0 = time.perf_counter()
    job()
    times.append(time.perf_counter() - t0)
extra = {{}}
if job_kind == "components" and {probe_rounds}:
    # rounds-to-convergence (deterministic for a fixed input): replay once
    # through the durable-manifest path and read the round count back —
    # only at one level; the count is a property of the input, not the
    # parallelism
    import json as _json, shutil, tempfile
    mdir = tempfile.mkdtemp(prefix="sgs_cc_rounds_")
    try:
        connected_components(_cc_edges, checkpoint=False, checkpoint_dir=mdir).count()
        with open(mdir + "/manifest.jsonl") as f:
            manifest = [_json.loads(ln) for ln in f if ln.strip()]
        extra["rounds"] = max(m["round"] for m in manifest)
        extra["edges"] = manifest[0]["edges"]
    finally:
        shutil.rmtree(mdir, ignore_errors=True)
print("RESULT " + json.dumps({{"cores": cores, "times": times, **extra}}))
spark.stop()
"""


def materialize(turns: int) -> str:
    cache = os.path.join(REPO, ".bench_cache", f"synth_notext_{turns}.parquet")
    if os.path.exists(cache):
        return cache
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from sketches_go_spark.plans.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(cores=32, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
df = spark.range({turns})
out = df.select(
    F.concat(F.lit("conv-"), F.lpad((F.col("id") / 10).cast("long").cast("string"), 9, "0")).alias("conv_id"),
    (F.col("id") % 10).cast("int").alias("turn_idx"),
    F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")), ((F.col("id") % 4) + 1).cast("int")).alias("role"),
    F.concat(F.lit("tool-"), (F.abs(F.xxhash64(F.col("id").cast("string"))) % 20).cast("string")).alias("tool"),
    F.timestamp_seconds(F.lit(1704067200.0) + F.col("id") * 0.05).alias("ts"),
)
out.write.mode("overwrite").parquet({cache!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True)
    return cache


def materialize_docs(n_docs: int) -> str:
    """Synthetic DOCUMENTS table for the minhash job: ~40 words per doc from
    a 200-word vocabulary (hash-chosen, deterministic) — the dedup
    pipeline's input shape, materialized once like the transcripts cache."""
    cache = os.path.join(REPO, ".bench_cache", f"synth_docs_{n_docs}.parquet")
    if os.path.exists(cache):
        return cache
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from sketches_go_spark.plans.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(cores=32, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
df = spark.range({n_docs})
words = F.transform(
    F.sequence(F.lit(1), F.lit(40)),
    lambda i: F.concat(
        F.lit("w"),
        F.pmod(F.xxhash64(F.col("id") * 64 + i.cast("bigint")), F.lit(200)).cast("string"),
    ),
)
out = df.select(
    F.col("id").alias("doc_id"),
    F.array_join(words, " ").alias("text"),
)
out.write.mode("overwrite").parquet({cache!r})
spark.stop()
"""
    subprocess.run([sys.executable, "-c", code], check=True)
    return cache


def measure(
    cores: int,
    cache: str,
    turns: int,
    reps: int,
    job: str = "relational",
    probe_rounds: bool = True,
) -> dict:
    code = _RUNNER.format(
        repo=REPO, cores=cores, cache=cache, reps=reps, job=job, turns=turns,
        probe_rounds=probe_rounds,
    )
    env = dict(os.environ)
    # FIXED modest heap, identical at every level: the earlier 8+2*cores
    # sizing (72g at 32 cores) competed with the page cache holding the
    # input parquet and thrashed ParallelGC — measured 10.9-50s at local[32]
    # vs 2.2s with a 16g heap on the same quiet host (round-2 audit).  Equal
    # heaps also remove a cross-level confound from the scaling comparison.
    env["SPARK_DRIVER_MEM"] = os.environ.get("SGS_SCALING_HEAP", "16g")
    out = subprocess.run(
        [sys.executable, "-c", code], check=True, capture_output=True, text=True,
        env=env,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")][-1]
    rec = json.loads(line[len("RESULT "):])
    best = min(rec["times"])
    res = {
        "cores": cores,
        "times_sec": [round(t, 3) for t in rec["times"]],
        "best_sec": round(best, 3),
        "turns_per_sec": round(turns / best),
    }
    for k in ("rounds", "edges"):
        if k in rec:
            res[k] = rec[k]
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=100_000_000)
    nproc = len(os.sched_getaffinity(0))
    ap.add_argument("--low", type=int, default=max(1, nproc // 4))
    ap.add_argument("--high", type=int, default=nproc)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--job",
                    choices=["relational", "udaf", "udaf_bins", "skew",
                             "temporal", "components", "minhash", "assemble",
                             "qrank"],
                    default="relational",
                    help="relational: parquet-scan-bound (bandwidth-limited on "
                         "ONE box); udaf: CPU-bound python path (isolates core "
                         "scaling from the shared memory bus); skew: salted vs "
                         "unsalted repartition build under a 50%%-hot key at "
                         "--high cores (not a two-level scaling run); "
                         "temporal: sessionize end-to-end (the window-exchange "
                         "shape, 10M conversation keys)")
    ap.add_argument("--no-stamp", action="store_true",
                    help="don't append the result table to BASELINE.md")
    args = ap.parse_args()

    if args.job == "components" and args.turns <= 65_535:
        ap.error(
            "--job components needs --turns > 65535: the graph is "
            "(turns - 65535) chain-cluster edges plus one 65,535-edge "
            "adversarial chain, so smaller --turns would make the "
            "cluster-edge count negative"
        )
    if args.job == "components":
        cache = ""
    elif args.job == "minhash":
        # --turns = document count for the minhash job (~40 words/doc)
        cache = materialize_docs(args.turns)
    else:
        cache = materialize(args.turns)
    if args.job == "skew":
        unsalted = measure(args.high, cache, args.turns, args.reps, "skew_unsalted")
        salted = measure(args.high, cache, args.turns, args.reps, "skew_salted")
        combine = measure(args.high, cache, args.turns, args.reps, "skew_combine")
        result = {
            "job": "skewed-key sketch build (hot key ~87.5% of rows): "
                   "repartition unsalted vs row-salted (32 salts) vs "
                   "map-side-combined",
            "turns": args.turns,
            "cores": args.high,
            "repartition_unsalted": unsalted,
            "repartition_salted": salted,
            "combine": combine,
            "combine_speedup_vs_unsalted": round(
                unsalted["best_sec"] / combine["best_sec"], 3
            ),
            "salting_speedup_vs_unsalted": round(
                unsalted["best_sec"] / salted["best_sec"], 3
            ),
        }
        print(json.dumps(result))
        if not args.no_stamp:
            stamp = (
                f"\n## Measured skew run (scaling_bench.py --job skew, "
                f"{args.turns:,} synthetic turns, local[{args.high}])\n\n"
                f"One group holds ~87.5% of all rows; identical sketch output "
                f"across all three topologies (pytest "
                f"test_row_salted_equals_unsalted + strategy parity tests).\n\n"
                f"| topology | best sec (of {args.reps}) | turns/sec |\n|---|---|---|\n"
                f"| repartition, unsalted (hot key -> 1 task) | {unsalted['best_sec']} | {unsalted['turns_per_sec']:,} |\n"
                f"| repartition, row-salted x32 | {salted['best_sec']} | {salted['turns_per_sec']:,} |\n"
                f"| combine (map-side partials, skew-immune) | {combine['best_sec']} | {combine['turns_per_sec']:,} |\n\n"
                f"Map-side combine beats the skewed repartition build "
                f"{unsalted['best_sec'] / combine['best_sec']:.2f}x — the "
                f"engine's first-choice skew answer is the topology that never "
                f"concentrates a key, not a salted repair of one that does.  "
                f"Row salting restores task balance with bit-identical output "
                f"(its purpose is the forced-repartition case), but on this "
                f"host the repartition path is shuffle/Arrow-transfer-bound "
                f"rather than build-bound (~24 of 32 cores busy even with the "
                f"hot key on one task), so restored balance cannot shorten "
                f"wall time here; on a multi-executor cluster the unsalted "
                f"hot task is a straggler and salting's balance does pay.\n"
            )
            with open(os.path.join(REPO, "BASELINE.md"), "a") as f:
                f.write(stamp)
        return
    low = measure(args.low, cache, args.turns, args.reps, args.job,
                  probe_rounds=False)
    high = measure(args.high, cache, args.turns, args.reps, args.job)
    speedup = low["best_sec"] / high["best_sec"]
    efficiency = speedup / (args.high / args.low)
    if args.job == "temporal":
        job_label = "sessionize end-to-end (window exchange on conv_id + per-session rollup)"
    elif args.job == "minhash":
        job_label = (
            "MinHash-LSH index build (per-row HOF signatures, 16 perms x "
            "3-gram shingles, xxhash64 family + banded bucket min/count "
            "summary) over synthetic ~40-word documents (--turns docs)"
        )
    elif args.job == "components":
        job_label = (
            "connected components (large-star/small-star to exact fixpoint) on a "
            "chain-cluster graph (--turns edges: 10-node chains + one 65,536-node chain)"
        )
    elif args.job == "assemble":
        job_label = (
            "transcript assembly (turns -> rendered role-tagged SFT examples "
            "+ loader features; conv_id shuffle + in-group array_sort + "
            "render, ~120 chars/turn synthesized from the key)"
        )
    elif args.job == "qrank":
        job_label = (
            "per-row quantile normalization (bins agg + broadcast CDF join "
            "back onto the rows — data rows never shuffle)"
        )
    else:
        job_label = f"ddsketch {args.job} p50/p95/p99 by (role, tool), synthetic numeric transcripts"
    result = {
        "job": job_label,
        "turns": args.turns,
        "low": low,
        "high": high,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
    }
    print(json.dumps(result))

    if args.no_stamp:
        return
    unit = {"components": "edges", "minhash": "docs"}.get(args.job, "turns")
    stamp = (
        f"\n## Measured scaling run (scaling_bench.py --job {args.job}, {args.turns:,} synthetic {unit})\n\n"
        f"| parallelism | best sec (of {args.reps}, after warm-up) | {unit}/sec |\n|---|---|---|\n"
        f"| local[{args.low}] | {low['best_sec']} | {low['turns_per_sec']:,} |\n"
        f"| local[{args.high}] | {high['best_sec']} | {high['turns_per_sec']:,} |\n\n"
        f"Speedup {args.low}->{args.high} cores: **{speedup:.2f}x**; scaling efficiency "
        f"(speedup / {args.high // args.low}): **{efficiency:.3f}** (target >= 0.8).\n"
    )
    if args.job == "components" and high.get("rounds") is not None:
        stamp += (
            f"\nRounds to exact convergence: **{high['rounds']}** (deterministic for "
            f"this input; {high.get('edges', args.turns):,} distinct edges after round 0).  "
            f"The 65,536-node chain is the adversarial diameter driving the round "
            f"count — real dedup graphs converge in <5 rounds; per-round cost is two "
            f"map-side-combinable min-aggregations over (bigint, bigint) rows only, "
            f"so wall time scales with edges x rounds, independent of payload size.\n"
        )
    with open(os.path.join(REPO, "BASELINE.md"), "a") as f:
        f.write(stamp)


if __name__ == "__main__":
    main()
