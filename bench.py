"""Benchmark harness — prints ONE JSON line with per-query seconds.

Run:  SPARK_GRAFT_SF_DIR=<sf0.1 parquet dir> python bench.py
      (local[nproc]; SPARK_GRAFT_CPUS=N sets another width)

Headline queries: the driver-contract sketch queries at the given sf plus a
large synthetic transcripts sketch-build (the 100-TB proxy: generation is
pure Catalyst, so the measured cost is dominated by the sketch pipeline
itself).  The primary metric is wall seconds; `turns_per_sec` reports
sketch-build+merge throughput on the synthetic table per BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# cores of this host (what `nproc` prints) unless SPARK_GRAFT_CPUS says otherwise
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# 10M amortizes the ~2s fixed job overhead that dominated at 5M — the
# headline turns_per_sec then reflects pipeline capacity, not job setup
SYNTH_TURNS = int(os.environ.get("SGS_BENCH_SYNTH_TURNS", "10000000"))
# two-parallelism scaling evidence (fresh JVM per level, after the main
# session stops); disable with SGS_BENCH_SCALING=0 for quick local loops.
# 100M turns matches the BASELINE.md protocol — smaller jobs are fixed-
# overhead-dominated and understate scaling
SCALING = os.environ.get("SGS_BENCH_SCALING", "1") == "1"
SCALING_TURNS = int(os.environ.get("SGS_BENCH_SCALING_TURNS", "100000000"))
# steal gate (round-5 verdict): a recorded stage whose best attempt saw more
# hypervisor steal than this gets extra attempts, so round-over-round deltas
# aren't contaminated-by-the-neighbor noise
STEAL_GATE_PCT = float(os.environ.get("SGS_BENCH_STEAL_GATE", "2.0"))
STEAL_GATE_EXTRA_RUNS = int(os.environ.get("SGS_BENCH_STEAL_EXTRA", "2"))


def _prev_bench() -> dict:
    """Newest BENCH_r*.json in the repo — for machine-checkable per-query
    deltas round over round."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, str] | None = None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            r = int(m.group(1))
            if best is None or r > best[0]:
                best = (r, path)
    if best is None:
        return {}
    try:
        with open(best[1]) as f:
            rec = json.load(f)
        parsed = rec.get("parsed", rec)
        if isinstance(parsed, dict) and parsed.get("queries"):
            return {"round": best[0], "queries": parsed["queries"]}
        # driver records sometimes carry parsed=None plus a front-truncated
        # 'tail' of the JSON line; salvage whatever per-query timings
        # survive (the segment before steal_pct is timing pairs only)
        tail = rec.get("tail", "")
        head = tail.split('"steal_pct"')[0]
        qs = {
            m.group(1): float(m.group(2))
            for m in re.finditer(r'"([a-z0-9_]+)": ([0-9.]+)', head)
        }
        return {"round": best[0], "queries": qs} if qs else {}
    except Exception:
        return {}


def _ticks() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from /proc/stat — the hypervisor-steal
    sampler that machine-attributes contaminated runs (this box is shared;
    see BASELINE.md host-capacity audit)."""
    parts = open("/proc/stat").readline().split()
    vals = list(map(int, parts[1:]))
    return sum(vals), vals[7]


def _run_scaling() -> dict:
    """Two-parallelism scaling levels in fresh subprocess JVMs, tagged with
    the hypervisor steal%% observed during each run.  Runs FIRST, before the
    query pipeline touches the page cache or catches an interference wave —
    measured round 3: the same job after the full pipeline read 8.4M turns/s
    where a clean-window run reads 43M (the window, not the code)."""
    import scaling_bench as sb

    def _measure_tagged(cores: int) -> dict:
        t0, s0 = _ticks()
        rec = sb.measure(cores, cache2, SCALING_TURNS, reps=3)
        t1, s1 = _ticks()
        rec["steal_pct"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
        return rec

    cache2 = sb.materialize(SCALING_TURNS)
    # three anchor widths give TWO N->4N pairs: 2->8 (the only pair this
    # shared host can physically supply 4x resources for — measured 0.76
    # efficiency on a quiet window) and 8->32 (capped by the host's 2.31x
    # pure-CPU ceiling; see the BASELINE.md N->4N sweep table)
    levels = {c: _measure_tagged(c) for c in (2, 8, 32)}

    def _pair(lo: int, hi: int) -> dict:
        speedup = levels[lo]["best_sec"] / levels[hi]["best_sec"]
        return {"speedup": round(speedup, 3), "efficiency": round(speedup / 4.0, 3)}

    return {
        "turns": SCALING_TURNS,
        "levels": {
            str(c): {
                "turns_per_sec": r["turns_per_sec"],
                "steal_pct": r["steal_pct"],
            }
            for c, r in levels.items()
        },
        "n_to_4n": {"2_to_8": _pair(2, 8), "8_to_32": _pair(8, 32)},
        "target": 0.8,
        "caveat": "shared host; see BASELINE.md host-capacity audit and "
        "N->4N sweep (efficiency decays with ABSOLUTE width, not the ratio)",
    }


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from sketches_go_spark.core.ddsketch import DDSketchConfig
    from sketches_go_spark.functions import ddsketch_fns as dd
    from sketches_go_spark.functions import sketch_fns as sk
    from sketches_go_spark.plans.session import get_spark
    from sketches_go_spark.sources.transcripts import synth_transcripts

    # scaling levels first — cleanest window (see _run_scaling docstring)
    scaling = _run_scaling() if SCALING else None

    spark = get_spark(
        cores=CPUS,
        shuffle_partitions=2 * CPUS,
        app_name="sgs-bench",
        # keep \r console-progress bars out of the captured output — the
        # driver parses the LAST stdout line as JSON, and a merged-stderr
        # capture would glue progress frames onto it
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    qfns = entry.queries()
    bench_queries = [
        "ddsketch_latency_by_tool",
        "ddsketch_bins_histogram",
        "ddsketch_udaf_textlen_by_role",
        "hll_distinct_convs_by_role",
        "cms_tool_counts",
        "bloom_probe_tools",
        "kll_latency_by_role",
        "tdigest_latency_by_role",
    ]

    def run(df) -> int:
        # count() forces full execution without driver-side materialization
        return df.count()

    timings: dict[str, float] = {}
    steal_tags: dict[str, float] = {}

    def timed(mk, n_runs: int) -> tuple[float, float]:
        """min-of-N with a per-attempt /proc/stat steal sample; records the
        steal%% observed during the BEST attempt (the quiet-window minimum —
        interference only ever slows a run down).  STEAL-GATED: if the best
        attempt itself was contaminated (> STEAL_GATE_PCT), up to
        STEAL_GATE_EXTRA_RUNS more attempts run so the recorded minimum gets
        a chance at a quiet window; a still-contaminated record keeps its
        steal tag so readers can discount it."""
        best, best_steal = float("inf"), 0.0
        attempts = 0
        while True:
            attempts += 1
            j0, s0 = _ticks()
            t0 = time.perf_counter()
            run(mk())
            dt = time.perf_counter() - t0
            j1, s1 = _ticks()
            if dt < best:
                best = dt
                best_steal = 100.0 * (s1 - s0) / max(j1 - j0, 1)
            if attempts >= n_runs and (
                best_steal <= STEAL_GATE_PCT
                or attempts >= n_runs + STEAL_GATE_EXTRA_RUNS
            ):
                return best, round(best_steal, 2)

    # warm-up (JVM + Arrow + Python workers — the UDAF query forks the
    # python worker pool, which otherwise bills its cold start to the first
    # timed mapInPandas stage)
    run(qfns["ddsketch_latency_by_tool"](spark, SF_DIR))
    run(qfns["ddsketch_udaf_textlen_by_role"](spark, SF_DIR))

    for name in bench_queries:
        best, steal = timed(lambda: qfns[name](spark, SF_DIR), 2)
        timings[name] = round(best, 3)
        steal_tags[name] = steal

    # ---- synthetic scale proxy: DDSketch build+merge over N turns ----------
    # Materialize the synthetic transcripts table once (generation cost is a
    # fixture concern, not engine throughput — mirrors reading a pre-existing
    # 100 TB table), then benchmark read -> sketch -> merge -> extract.
    cache = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_cache",
        f"synth_{SYNTH_TURNS}.parquet",
    )
    if not os.path.exists(cache):
        synth_transcripts(spark, SYNTH_TURNS, with_text=True).write.mode(
            "overwrite"
        ).parquet(cache)
    synth = spark.read.parquet(cache)

    # synthetic stages: best of N (3 for the headline relational stage,
    # 2 for the others) via the same steal-tagged timer — this host shows
    # intermittent multi-x interference and the estimator of uncontended
    # capacity is min (BASELINE.md measurement protocol)
    def stage(name: str, n_runs: int, mk) -> float:
        best, steal = timed(mk, n_runs)
        timings[name] = round(best, 3)
        steal_tags[name] = steal
        return best

    cfg = DDSketchConfig(alpha=0.01)
    src = synth.select("role", F.length("text").cast("double").alias("v"))
    dt = stage(
        "synth_ddsketch_relational",
        3,
        lambda: dd.ddsketch_quantiles_relational(
            src, "v", ["role"], (0.5, 0.95, 0.99), cfg
        ),
    )
    turns_per_sec = SYNTH_TURNS / dt

    # the same quantiles through the UDAF (sketch-value) build: Arrow ships
    # groups x buckets bin rows, not raw rows
    stage(
        "synth_ddsketch_udaf_bins",
        2,
        lambda: dd.with_quantiles(
            dd.ddsketch_agg(src, "v", ["role"], cfg), (0.5, 0.95, 0.99)
        ),
    )

    # synthetic HLL (distinct convs over N turns)
    stage(
        "synth_hll_relational",
        2,
        lambda: sk.hll_estimate_relational(
            synth.select("conv_id", "role"), "conv_id", ["role"], p=12
        ),
    )

    # high-cardinality companion UDAF: one HLL blob per conv_id (N/10 groups)
    # through the vectorized partial build + streaming merge
    stage(
        "synth_hll_udaf_per_conv",
        2,
        lambda: sk.hll_agg(
            synth.select("conv_id", "tool"), "tool", ["conv_id"], p=6
        ),
    )

    # rank-sketch pipeline without the driver query's oracle-verification
    # join (kll_latency_by_role also pays an exact-rank check by design)
    from sketches_go_spark.core.kll import KLLSketch

    stage(
        "synth_kll_udaf",
        2,
        lambda: sk.with_sketch_quantiles(
            sk.kll_agg(src, "v", ["role"], k=200),
            KLLSketch.from_bytes,
            [0.5, 0.95, 0.99],
        ),
    )

    # ---- skewed-key stage: one hot group holding ~87% of rows --------------
    # The blob build is skew-immune by construction: a hot key fans out over
    # its buckets in the map-side-combined bins aggregation before any
    # group reaches one task.
    skew_src = synth.select(
        F.when(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)) < 7, F.lit("g-hot"))
        .otherwise(
            F.concat(
                F.lit("g-"),
                F.pmod(F.xxhash64("conv_id"), F.lit(19)).cast("string"),
            )
        )
        .alias("g"),
        F.length("text").cast("double").alias("v"),
    )
    stage("synth_skew", 2, lambda: dd.ddsketch_agg(skew_src, "v", ["g"], cfg))

    # ---- training-data pipeline operators (separate section: keeps the
    # headline `value` comparable to prior rounds) --------------------------
    pipeline_timings: dict[str, float] = {}
    pipeline_steal: dict[str, float] = {}
    for name in (
        "dedup_minhash_lsh",
        "dedup_components",
        "sim_ann_lsh",
        "kmv_event_type_user_overlap",
        "sessionize_user_events",
        "asof_purchase_last_click",
        "ddsketch_sliding_quantiles",
        # round 4: zero-shuffle winnowing family (prove the per-doc
        # higher-order-function build holds at sf0.1), the min_by kmeans
        # assignment, and the single-job funnel
        "text_winnow_fingerprints",
        "text_winnow_containment",
        "kmeans_assign_embeddings",
        "funnel_signup_click_purchase",
        # round-4 additions: regexp scrub, tf-idf, packing, nearest-asof,
        # RAG chunking, group rebalancing
        "text_redact_pii",
        "text_tfidf_top_terms",
        "pack_sequences_documents",
        "asof_nearest_purchase_click",
        "chunk_documents",
        "sample_rebalance_by_lang",
        # round 5: incremental shard dedup (first run stages the warehouse,
        # min-of-N reflects the staged incremental cost — the operation's
        # actual profile), contamination/repetition screens, trained IVF,
        # BPE-driven packing, streaming near-dup bucket state
        "dedup_incremental_shard",
        "text_repetition",
        "text_benchmark_contamination",
        "sim_ivf_trained_topk",
        "pack_sequences_bpe",
        "streaming_dedup_minhash",
        "sample_token_budget_by_source",
        "transcript_sft_render",
        "dedup_conversations_minhash",
        "transcript_validate",
        "transcript_truncate_budget",
        "transcript_common_turns",
        "ddsketch_conv_duration_by_first_role",
        "streaming_conv_features",
        "transcript_collapse_retries",
        "transcript_training_set",
        # round-5 late additions: SFT last mile, dialogue-structure screens,
        # mixture sampling both ways, C4 line dedup, sketch-driven range
        # partitioning, the reply-latency UX metric
        "transcript_sft_examples",
        "transcript_role_transitions",
        "transcript_tool_affinity",
        "pack_conversations",
        "sample_temperature_by_lang",
        "sample_resample_by_lang",
        "text_strip_common_lines",
        "sketch_range_bucket_counts",
        "ddsketch_reply_latency_daily",
        "ddsketch_quantile_rank_events",
    ):
        best, steal = timed(lambda: qfns[name](spark, SF_DIR), 2)
        pipeline_timings[name] = round(best, 3)
        pipeline_steal[name] = steal

    # composite of per-query best-case timings (min-of-N for the synthetic
    # stages, single-shot for the sf queries) — a best-case estimate, not an
    # actual wall time
    total = round(sum(timings.values()), 3)
    spark.stop()

    prev = _prev_bench()
    delta_vs_prev = None
    if prev:
        delta_vs_prev = {
            name: round(t - prev["queries"][name], 3)
            for name, t in timings.items()
            if name in prev["queries"]
        }

    full = {
        "metric": "headline sketch queries best-case time (sum of per-query minima)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "steal_pct": steal_tags,
        "pipeline": pipeline_timings,
        "pipeline_steal_pct": pipeline_steal,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "turns_per_sec": round(turns_per_sec),
        "synth_turns": SYNTH_TURNS,
        "cpus": CPUS,
        "delta_vs_prev_round": delta_vs_prev,
        "prev_round": prev.get("round"),
        "scaling": scaling,
    }
    # full record goes to a repo-local file (humans, git history); stdout's
    # LAST line is a COMPACT record that stays under the driver's 2000-char
    # capture so BENCH_r{N}.json gets parsed != null (r3/r4 were truncated)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_local_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    all_queries = {**timings, **pipeline_timings}
    hot_steal = {
        k: round(v)
        for k, v in {**steal_tags, **pipeline_steal}.items()
        if v > STEAL_GATE_PCT
    }
    # cap the compact line's steal list at the 5 hottest — an interference
    # wave can tag a dozen stages and push the line past the capture limit,
    # which would drop per-query detail; the full tag set is in the record
    hot_steal = dict(
        sorted(hot_steal.items(), key=lambda kv: -kv[1])[:5]
    )
    compact_scaling = None
    if scaling:
        compact_scaling = {
            "turns": scaling["turns"],
            "tps": {
                c: lv["turns_per_sec"] for c, lv in scaling["levels"].items()
            },
            "steal": {
                c: lv["steal_pct"] for c, lv in scaling["levels"].items()
            },
            "eff": {
                p: v["efficiency"] for p, v in scaling["n_to_4n"].items()
            },
        }
    compact = {
        "metric": "headline sketch queries best-case time",
        "value": total,
        "unit": "sec",
        "sf": full["sf"],
        "cpus": CPUS,
        "turns_per_sec": full["turns_per_sec"],
        # 2-decimal (10 ms) precision in the compact line only — the full
        # 3-decimal record is in BENCH_local_full.json; ~50 stages at one
        # fewer digit keeps the whole set under the capture limit at sf0.1
        "queries": {k: round(v, 2) for k, v in all_queries.items()},
        "scaling": compact_scaling,
    }
    if hot_steal:
        compact["steal_gt_gate_pct"] = hot_steal
    line = json.dumps(compact, separators=(",", ":"))
    for top_n in (40, 20):
        if len(line) <= 1950:
            break
        # drop the cheapest stages before the headline ever truncates
        compact["queries"] = {
            k: round(v, 2)
            for k, v in sorted(
                all_queries.items(), key=lambda kv: -kv[1]
            )[:top_n]
        }
        compact["queries_note"] = (
            f"top-{top_n} by time; full set in BENCH_local_full.json"
        )
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:
        # last-resort: headline + scaling only (full set is in the repo file)
        compact["queries"] = {}
        compact["queries_note"] = "see BENCH_local_full.json"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
