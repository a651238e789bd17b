"""Per-operation cost of the core sketches, shaped like a workload's groups.

Sketches are built from the workload's own per-group values (few large
groups, many tiny ones, or many shard partials), so call overhead weighs in
as it does in the Spark builds.  ``numpy_floor`` is the bucket mapping as
bare numpy over the same arrays: the floor under DDSketch add.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core.encoding import decode_sketch, encode_sketch
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLSketch

MAX_GROUPS = 2000
REPEATS = 3
QS = (0.5, 0.95, 0.99)


def _time(fn, items) -> float:
    """Median over REPEATS of the seconds one pass over items takes."""
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _pairs(objs):
    return [(objs[i], objs[i + 1]) for i in range(0, len(objs) - 1, 2)]


def run(groups: list[np.ndarray], seed: int) -> dict[str, float]:
    """ns per value for adds, us per call for the rest."""
    groups = [g for g in groups if g.size][:MAX_GROUPS]
    n_values = sum(g.size for g in groups)
    rng = np.random.default_rng(seed)
    hashes = [rng.integers(0, 1 << 60, g.size, dtype=np.int64) for g in groups]
    cfg = DDSketchConfig()
    mult, offset = cfg.mapping().multiplier, cfg.mapping().index_offset

    dds = [DDSketch(config=cfg).add(g) for g in groups]
    blobs = [encode_sketch(s) for s in dds]
    hlls = [HyperLogLog().add_hashes(h) for h in hashes]
    klls = [KLLSketch().add(g) for g in groups]
    n_pairs = max(1, len(groups) // 2)

    def merge_time(objs, copy):
        pairs = _pairs(objs)
        fresh = [[(copy(a), b) for a, b in pairs] for _ in range(REPEATS)]
        runs = []
        for batch in fresh:
            t0 = time.perf_counter()
            for a, b in batch:
                a.merge(b)
            runs.append(time.perf_counter() - t0)
        return statistics.median(runs)

    ns, us = 1e9 / n_values, 1e6 / len(groups)
    return {
        "ddsketch_add_ns": _time(lambda g: DDSketch(config=cfg).add(g), groups) * ns,
        "numpy_floor_ns": _time(lambda g: np.floor(np.log(g) * mult + offset), groups) * ns,
        "encode_us": _time(encode_sketch, dds) * us,
        "decode_us": _time(decode_sketch, blobs) * us,
        "quantiles_us": _time(lambda s: s.quantiles(QS), dds) * us,
        "ddsketch_merge_us": merge_time(dds, DDSketch.copy) * 1e6 / n_pairs,
        "hll_add_ns": _time(lambda h: HyperLogLog().add_hashes(h), hashes) * ns,
        "hll_merge_us": merge_time(hlls, lambda h: HyperLogLog.from_bytes(h.to_bytes())) * 1e6 / n_pairs,
        "kll_add_ns": _time(lambda g: KLLSketch().add(g), groups) * ns,
        "kll_merge_us": merge_time(klls, lambda k: KLLSketch.from_bytes(k.to_bytes())) * 1e6 / n_pairs,
    }
