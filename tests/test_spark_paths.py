"""Relational and UDAF paths: accuracy vs exact oracle, parity with the core
DDSketch object, partition-order invariance (north-rule merge contract), and
plan checks (the relational hot path must stay Python-free)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.sources import io as sio
from tests.oracle import assert_relatively_accurate

CFG = DDSketchConfig(alpha=0.01)
QS = [0.01, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]
RNG = np.random.default_rng(11)


@pytest.fixture(scope="module")
def data():
    n = 20000
    groups = RNG.choice(["a", "b", "c"], n, p=[0.8, 0.15, 0.05])
    values = np.where(
        groups == "a",
        RNG.lognormal(3, 1, n),
        np.where(groups == "b", RNG.normal(0, 10, n), RNG.exponential(5, n)),
    )
    # sprinkle zeros and negatives into 'a'
    values[: n // 100] = 0.0
    return pd.DataFrame({"g": groups, "v": values})


@pytest.fixture(scope="module")
def sdf(spark, data):
    return spark.createDataFrame(data).repartition(8)


# Key columns of a parity case, derived from the fixture's "g" as Spark SQL,
# and the fixture group an output key tuple stands for (None: no keys).
KEYINGS = {
    "string": (["g"], {}, lambda k: k[0]),
    "double": (
        ["d"],
        {"d": "CASE g WHEN 'a' THEN NULL WHEN 'b' THEN double('NaN') ELSE 1.5D END"},
        lambda k: "a" if k[0] is None else "b" if math.isnan(k[0]) else "c",
    ),
    "quoted": (["conv id"], {"conv id": "concat('c ', g)"}, lambda k: k[0][2:]),
    "none": ([], {}, lambda k: None),
}
PARITY_CASES = {
    "default": {},
    "weighted": {"weighted": True},
    "double-null-nan-key": {"keying": "double"},
    "no-keys": {"keying": "none"},
    "quoted-key": {"keying": "quoted"},
    "no-quantiles": {"qs": ()},
    "raw-estimates": {"decimals": None},
    "linear": {"cfg": DDSketchConfig(alpha=0.01, interpolation="linear")},
    "cubic": {"cfg": DDSketchConfig(alpha=0.01, interpolation="cubic"), "weighted": True},
    "collapse-lowest": {
        "cfg": DDSketchConfig(alpha=0.01, max_bins=64, collapse="lowest"),
        "weighted": True,
    },
    "collapse-highest": {"cfg": DDSketchConfig(alpha=0.01, max_bins=64, collapse="highest")},
}


@pytest.mark.parametrize("case", PARITY_CASES)
def test_relational_accuracy_and_core_parity(spark, sdf, data, case):
    """Per-group estimates equal the numpy core's at 6 decimals (and are
    alpha-accurate where unweighted and uncollapsed) for every group and
    quantile asked, over values of all three signs."""
    opts = PARITY_CASES[case]
    cfg = opts.get("cfg", CFG)
    qs = opts.get("qs", [0.0, *QS])
    decimals = opts.get("decimals", 6)
    keys, derived, group_of = KEYINGS[opts.get("keying", "string")]
    weights = (
        np.random.default_rng(3).uniform(0.1, 3.0, len(data))
        if opts.get("weighted")
        else None
    )
    df = sdf if weights is None else spark.createDataFrame(data.assign(w=weights)).repartition(8)
    df = df.selectExpr("*", *[f"{sql} AS `{name}`" for name, sql in derived.items()])
    wcol = None if weights is None else "w"
    if decimals == 6:
        out = dd.ddsketch_quantiles_relational(df, "v", keys, qs, cfg, wcol)
    else:
        bins = dd.build_bins(df, "v", keys, cfg, wcol)
        out = dd.quantiles_from_bins(bins, keys, qs, cfg, estimate_decimals=decimals)
    got = {(group_of([r[k] for k in keys]), r["q"]): r["est"] for r in out.collect()}
    groups = dict(iter(data.groupby("g"))) if keys else {None: data}
    assert set(got) == {(g, q) for g in groups for q in qs}
    for g, sub in groups.items():
        vals = sub["v"].to_numpy()
        core = DDSketch.from_values(
            vals, None if weights is None else weights[sub.index], config=cfg
        )
        for q in qs:
            est = got[(g, q)]
            # parity with the numpy core (same algorithm, same buckets)
            assert round(est, 6) == round(core.quantile(q), 6), (g, q)
            if decimals is None:
                assert est == pytest.approx(core.quantile(q), rel=1e-12)
            if weights is None and cfg.collapse == "none":
                assert_relatively_accurate(vals, est, q, cfg.alpha)


def test_udaf_matches_relational(spark, sdf, data):
    rel = dd.ddsketch_quantiles_relational(sdf, "v", ["g"], QS, CFG).toPandas()
    sk = dd.ddsketch_agg(sdf, "v", ["g"], CFG)
    wide = dd.with_quantiles(sk, QS).toPandas().set_index("g")
    for _, row in rel.iterrows():
        pct = row["q"] * 100
        col = f"p{int(pct)}" if float(pct).is_integer() else f"p{pct}".replace(".", "_")
        assert wide.loc[row["g"], col] == pytest.approx(row["est"], abs=1e-6)


def test_partition_order_invariance(spark, sdf):
    """Merge associativity/commutativity under arbitrary partition orderings:
    identical quantiles for any repartitioning (non-collapsing sketches)."""
    results = []
    for parts in (1, 4, 16, 64):
        d = sdf.repartition(parts)
        rel = (
            dd.ddsketch_quantiles_relational(d, "v", ["g"], QS, CFG)
            .orderBy("g", "q")
            .toPandas()
        )
        sk = dd.with_quantiles(dd.ddsketch_agg(d, "v", ["g"], CFG), [0.5, 0.99])
        udaf = sk.select("g", "p50", "p99").orderBy("g").toPandas()
        results.append((rel, udaf))
    base_rel, base_udaf = results[0]
    for rel, udaf in results[1:]:
        pd.testing.assert_frame_equal(rel, base_rel)
        pd.testing.assert_frame_equal(udaf, base_udaf)


def test_udaf_summary_exact(spark, sdf, data):
    sk = dd.ddsketch_agg(sdf, "v", ["g"], CFG)
    out = dd.with_summary(sk, estimate_decimals=None).toPandas().set_index("g")
    exact = data.groupby("g")["v"].agg(["count", "sum", "min", "max"])
    for g in exact.index:
        assert out.loc[g, "cnt"] == exact.loc[g, "count"]
        assert out.loc[g, "xsum"] == pytest.approx(exact.loc[g, "sum"], rel=1e-9)
        assert out.loc[g, "xmin"] == exact.loc[g, "min"]
        assert out.loc[g, "xmax"] == exact.loc[g, "max"]


def test_weighted_bins(spark):
    pdf = pd.DataFrame({"g": ["x"] * 4, "v": [1.0, 10.0, 100.0, 0.0],
                        "w": [0.5, 2.0, 0.25, 3.0]})
    sdf = spark.createDataFrame(pdf)
    bins = dd.build_bins(sdf, "v", ["g"], CFG, weight_col="w")
    total = bins.agg(F.sum("count")).collect()[0][0]
    assert total == pytest.approx(5.75)
    core = DDSketch.from_values(pdf["v"], pdf["w"], config=CFG)
    est = dd.quantiles_from_bins(bins, ["g"], [0.5], CFG).collect()[0]["est"]
    assert est == pytest.approx(core.quantile(0.5), abs=1e-6)


def test_nan_and_null_rejected_not_counted(spark):
    pdf = pd.DataFrame({"g": ["x"] * 5, "v": [1.0, float("nan"), None, 2.0, 1e320]})
    sdf = spark.createDataFrame(pdf)
    bins = dd.build_bins(sdf, "v", ["g"], CFG)
    assert bins.agg(F.sum("count")).collect()[0][0] == 2.0


def _shape(df) -> dict:
    """Node counts of the executed plan (under AQE the initial plan:
    nothing runs), one node per line once the tree prefix is stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [line.lstrip(" :|+-") for line in plan.splitlines()]
    return {
        "hash_exchanges": sum(n.startswith("Exchange hashpartitioning") for n in nodes),
        "windows": sum(n.startswith("Window ") for n in nodes),
        "joins": sum(n.split(" ")[0].endswith("Join") for n in nodes),
        "broadcasts": sum(n.startswith("BroadcastExchange") for n in nodes),
        "python": [n for n in nodes if "Python" in n.split(" ")[0] or "Pandas" in n.split(" ")[0]],
    }


def test_relational_plan_is_python_free(spark, sdf, tmp_path):
    """The hot path must compile to JVM codegen (no Python eval nodes), in
    one window over the bins and no join: one exchange for the bins (or the
    rollup) on (keys, sign, bucket), one for the window on the keys, and
    the per-quantile groupBy reuses the window's partitioning."""
    path = str(tmp_path / "bins")
    sio.write_sketches(dd.build_bins(sdf.withColumn("h", F.col("g")), "v", ["g", "h"], CFG), path)
    rolled = dd.rollup_bins(sio.read_sketches(spark, path), ["g", "h"], ["g"])
    want = {"hash_exchanges": 2, "windows": 1, "joins": 0, "broadcasts": 0, "python": []}
    assert _shape(dd.ddsketch_quantiles_relational(sdf, "v", ["g"], QS, CFG)) == want
    assert _shape(dd.quantiles_from_bins(rolled, ["g"], QS, CFG)) == want
    # a DOUBLE key costs one more exchange: Spark partitions the window by
    # the NaN/-0.0-normalized key but the groupBy by the raw key, so the
    # window's partitioning does not satisfy the aggregate
    dkey = sdf.selectExpr("v", "CASE g WHEN 'a' THEN double('NaN') ELSE 1.5D END AS d")
    got = _shape(dd.ddsketch_quantiles_relational(dkey, "v", ["d"], QS, CFG))
    assert got == {**want, "hash_exchanges": 3}


def test_collapsed_relational_invariants(spark):
    n = 5000
    pdf = pd.DataFrame({"g": ["x"] * n, "v": RNG.lognormal(0, 4, n)})
    sdf = spark.createDataFrame(pdf).repartition(8)
    cfg = DDSketchConfig(alpha=0.01, max_bins=128, collapse="lowest")
    bins = dd.build_bins(sdf, "v", ["g"], cfg).toPandas()
    pos = bins[bins["sign"] == 1]
    assert len(pos) <= 128
    assert bins["count"].sum() == n
    # max bucket preserved = alpha-accurate max
    core = DDSketch.from_values(pdf["v"], config=cfg)
    assert pos["bucket"].max() == core.pos_idx[-1]


def test_sketch_to_bins_bridge(spark, sdf, data):
    """UDAF blobs -> bins relation -> relational quantiles == UDAF quantiles."""
    sk = dd.ddsketch_agg(sdf, "v", ["g"], CFG)
    bins = dd.sketch_to_bins(sk, ["g"])
    rel_direct = dd.build_bins(sdf, "v", ["g"], CFG).orderBy("g", "sign", "bucket").toPandas()
    rel_bridged = bins.orderBy("g", "sign", "bucket").toPandas()
    pd.testing.assert_frame_equal(
        rel_bridged.reset_index(drop=True),
        rel_direct.reset_index(drop=True),
        check_dtype=False,
    )


def test_companion_udaf_plans_have_no_per_group_python(spark, sdf):
    """The companion-sketch UDAF paths must use streaming key-run passes:
    no FlatMapGroupsInPandas (per-group applyInPandas) anywhere — its ~1 ms
    per-group invocation dominates at 10^5+ keys."""
    from sketches_go_spark.functions import sketch_fns as skf

    items = sdf.withColumn("item", F.col("v").cast("string"))
    # HLL / CMS / Bloom: one assembler over the Catalyst relation;
    # KLL / t-digest: partial build + streaming merge
    plans = {
        "hll": (skf.hll_agg(items, "item", ["g"], p=6), 1),
        "cms": (skf.cms_agg(items, "item", ["g"]), 1),
        "bloom": (skf.bloom_agg(items, "item", ["g"]), 1),
        "kll": (skf.kll_agg(sdf, "v", ["g"], k=50), 2),
        "tdigest": (skf.tdigest_agg(sdf, "v", ["g"], delta=50.0), 2),
    }
    for name, (df, stages) in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, name
        assert plan.count("MapInPandas") == stages, name


def test_pair_operators_use_equality_joins(spark):
    """Candidate generation in dedup/similarity must stay equality-join
    shaped: a CartesianProduct or BroadcastNestedLoopJoin in these plans
    would be quadratic at corpus scale."""
    from sketches_go_spark.operators import dedup, similarity as sim

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plans = {
        "simhash_pairs": dedup.simhash_pairs(docs, bits=16, max_hamming=3),
        "minhash_lsh": dedup.minhash_lsh_pairs(docs, num_perm=8, band_size=4),
        "neardup": sim.embedding_neardup_pairs(
            embs, threshold=0.5, n_bands=2, band_bits=4, bucket_cap=100
        ),
        "ann": sim.lsh_ann_topk(embs, queries, k=3, n_bands=2, band_bits=4),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ddsketch_agg_bins_strategy_parity(spark):
    """strategy='bins' (the default: relational bins + blob assembly, single
    scan with bin-level exact-stat partials) must agree with
    strategy='combine' on every bin, the zero count, and the exact summary."""
    import pandas as pd

    from sketches_go_spark.core.encoding import decode_sketch

    rng = np.random.default_rng(41)
    n = 40000
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c", None], n).astype(object),
            "v": np.concatenate(
                [rng.lognormal(1, 2, n // 2), -rng.exponential(3, n // 2)]
            ),
            "w": rng.integers(1, 4, n).astype(float),
        }
    )
    pdf.loc[rng.choice(n, 50, replace=False), "v"] = 0.0
    sdf = spark.createDataFrame(pdf).repartition(8)
    combine = {
        tuple(r[:1]): decode_sketch(bytes(r["sketch"]))
        for r in dd.ddsketch_agg(
            sdf, "v", ["g"], CFG, weight_col="w", strategy="combine"
        ).collect()
    }
    bins = {
        tuple(r[:1]): decode_sketch(bytes(r["sketch"]))
        for r in dd.ddsketch_agg(sdf, "v", ["g"], CFG, weight_col="w").collect()
    }
    assert combine.keys() == bins.keys() and len(bins) == 4
    for k in combine:
        a, b = combine[k], bins[k]
        assert np.array_equal(a.pos_idx, b.pos_idx)
        assert np.allclose(a.pos_cnt, b.pos_cnt)
        assert np.array_equal(a.neg_idx, b.neg_idx)
        assert np.allclose(a.neg_cnt, b.neg_cnt)
        assert a.zero_count == pytest.approx(b.zero_count)
        assert a.exact_count == pytest.approx(b.exact_count)
        assert a.exact_sum == pytest.approx(b.exact_sum, rel=1e-9)
        assert a.exact_min == b.exact_min and a.exact_max == b.exact_max
        for q in (0.01, 0.5, 0.99):
            assert a.quantile(q) == b.quantile(q)


def test_bins_strategy_group_spans_arrow_batches(spark):
    """A group whose bins relation spans several Arrow batches must still
    assemble into ONE sketch (the run buffers persist across batches)."""
    from sketches_go_spark.core.encoding import decode_sketch

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        # ~1400 distinct buckets per group >> 97 rows per Arrow batch
        sdf = spark.range(4000).select(
            F.pmod("id", F.lit(2)).cast("string").alias("g"),
            F.pow(F.lit(1.02), F.pmod("id", F.lit(1400))).alias("v"),
        )
        rows = dd.ddsketch_agg(sdf, "v", ["g"], CFG, strategy="bins").collect()
        assert len(rows) == 2
        ref = {
            r["g"]: decode_sketch(bytes(r["sketch"]))
            for r in dd.ddsketch_agg(sdf, "v", ["g"], CFG, strategy="combine").collect()
        }
        for r in rows:
            got = decode_sketch(bytes(r["sketch"]))
            want = ref[r["g"]]
            assert np.array_equal(got.pos_idx, want.pos_idx)
            assert np.allclose(got.pos_cnt, want.pos_cnt)
            assert got.exact_count == pytest.approx(want.exact_count)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _decoded(df, key):
    from sketches_go_spark.core.encoding import decode_sketch

    return {r[key]: decode_sketch(bytes(r["sketch"])) for r in df.collect()}


def _assert_same_build(got, want):
    """Same bins, zero count, count, min and max; the exact sum (float
    additions in another order) within rel 1e-9."""
    assert got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        assert np.array_equal(g.pos_idx, w.pos_idx) and np.array_equal(g.neg_idx, w.neg_idx)
        assert np.array_equal(g.pos_cnt, w.pos_cnt) and np.array_equal(g.neg_cnt, w.neg_cnt)
        assert g.zero_count == w.zero_count and g.exact_count == w.exact_count
        assert g.exact_min == w.exact_min and g.exact_max == w.exact_max
        assert g.sum == pytest.approx(w.sum, rel=1e-9, abs=1e-12)


@pytest.fixture(scope="module")
def many_groups(spark):
    """3000 groups of ~13 values, a null-key group and one ~1400-bucket
    group, split over 8 partitions."""
    rng = np.random.default_rng(43)
    n = 40000
    g = rng.integers(0, 3000, n).astype(str).astype(object)
    g[rng.choice(n, 300, replace=False)] = None
    v = np.concatenate([rng.lognormal(1, 2, n // 2), -rng.exponential(3, n // 2)])
    v[rng.choice(n, 300, replace=False)] = 0.0
    g[:4000] = "wide"
    v[:4000] = 1.02 ** (np.arange(4000) % 1400)
    pdf = pd.DataFrame({"g": g, "v": v, "w": rng.integers(1, 4, n).astype(float)})
    return spark.createDataFrame(pdf).repartition(8)


@pytest.mark.parametrize("strategy", ["bins", "repartition"])
def test_build_high_cardinality_matches_combine(spark, many_groups, strategy):
    """The default build and the repartition build at thousands of
    groups, with Arrow batches of 97 rows so groups (the null-key one and
    a 1400-bucket one among them) span batches, decode to the same
    sketches as strategy='combine'."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        got = _decoded(
            dd.ddsketch_agg(many_groups, "v", ["g"], CFG, weight_col="w", strategy=strategy), "g"
        )
        want = _decoded(
            dd.ddsketch_agg(many_groups, "v", ["g"], CFG, weight_col="w", strategy="combine"), "g"
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(want) == 3002 and None in want and want["wide"].pos_idx.size > 1000
    _assert_same_build(got, want)


def test_partial_flush_bounds_groups_and_merge_restores(spark, many_groups, monkeypatch):
    """A tiny flush bound (200 buffered bin rows, two 97-row Arrow
    batches) makes each task emit several partials per group; the merge
    folds them back into the unflushed result."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        monkeypatch.setattr(dd, "_FLUSH_BIN_ROWS", 200)
        parts = dd.ddsketch_partial(many_groups, "v", ["g"], CFG, "w")
        monkeypatch.setattr(dd, "_FLUSH_BIN_ROWS", 10**9)
        plain = dd.ddsketch_partial(many_groups, "v", ["g"], CFG, "w")
        assert parts.count() > plain.count()
        got = _decoded(dd.ddsketch_merge(parts, ["g"], CFG), "g")
        want = _decoded(dd.ddsketch_merge(plain, ["g"], CFG), "g")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    _assert_same_build(got, want)


def test_with_quantiles_batch_matches_core(spark, many_groups):
    """with_quantiles (one vectorized pass per Arrow batch) equals
    DDSketch.quantiles value for value, with and without clamp_exact; a
    null blob gives NaN."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    qs = [0.0, 0.1, 0.5, 0.99, 1.0]
    sk = dd.ddsketch_agg(many_groups, "v", ["g"], CFG, weight_col="w")
    core = _decoded(sk, "g")
    null = spark.createDataFrame(
        [("null-blob", None)],
        StructType([StructField("g", StringType()), StructField("sketch", BinaryType())]),
    )
    for clamp in (False, True):
        out = dd.with_quantiles(
            sk.unionByName(null), qs, clamp_exact=clamp, estimate_decimals=None
        ).toPandas()
        cols = [c for c in out.columns if c.startswith("p")]
        assert len(out) == len(core) + 1
        for row in out.itertuples(index=False):
            got = np.array([getattr(row, c) for c in cols])
            if row.g == "null-blob":
                assert np.isnan(got).all()
                continue
            assert np.array_equal(got, core[row.g].quantiles(qs, clamp_exact=clamp))


def test_bins_psi_identity_and_shift(spark):
    from pyspark.sql import functions as F

    from sketches_go_spark.core.ddsketch import DDSketchConfig
    from sketches_go_spark.functions import ddsketch_fns as dd

    cfg = DDSketchConfig(alpha=0.01)
    base = spark.range(0, 20000).select(
        F.lit("g").alias("g"), ((F.col("id") % 1000) + 1).cast("double").alias("v")
    )
    shifted = spark.range(0, 20000).select(
        F.lit("g").alias("g"),
        (((F.col("id") % 1000) + 1) * 10.0).cast("double").alias("v"),
    )
    ba = dd.build_bins(base, "v", ["g"], cfg)
    bb = dd.build_bins(shifted, "v", ["g"], cfg)
    same = dd.bins_psi(ba, ba, ["g"]).collect()[0]["psi"]
    diff = dd.bins_psi(ba, bb, ["g"]).collect()[0]["psi"]
    assert same == 0.0
    assert diff > 1.0, diff  # 10x scale shift is a major-drift PSI


def test_bins_ks_identity_shift_and_exact_agreement(spark):
    """KS from bins: KS(X,X)=0; a pure location scaling of a uniform grid
    gives a large max-CDF gap, bounded by 1; and on overlapping samples the
    bins-level KS agrees with the exact empirical two-sample KS within the
    bucket resolution (one alpha-wide bucket of mass)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from sketches_go_spark.core.ddsketch import DDSketchConfig
    from sketches_go_spark.functions import ddsketch_fns as dd

    cfg = DDSketchConfig(alpha=0.01)
    base = spark.range(0, 20000).select(
        F.lit("g").alias("g"), ((F.col("id") % 1000) + 1).cast("double").alias("v")
    )
    shifted = spark.range(0, 20000).select(
        F.lit("g").alias("g"),
        (((F.col("id") % 1000) + 1) * 10.0).cast("double").alias("v"),
    )
    ba = dd.build_bins(base, "v", ["g"], cfg)
    bb = dd.build_bins(shifted, "v", ["g"], cfg)
    assert dd.bins_ks(ba, ba, ["g"]).collect()[0]["ks"] == 0.0
    big = dd.bins_ks(ba, bb, ["g"]).collect()[0]["ks"]
    # CDFs only overlap on [10, 1000]: gap is large but below 1
    assert 0.5 < big <= 1.0, big

    rng = np.random.default_rng(7)
    xa = rng.lognormal(2.0, 1.0, 30000)
    xb = rng.lognormal(2.2, 1.0, 30000)  # modest location shift
    da = spark.createDataFrame(pd.DataFrame({"g": "g", "v": xa}))
    db = spark.createDataFrame(pd.DataFrame({"g": "g", "v": xb}))
    ks_bins = dd.bins_ks(
        dd.build_bins(da, "v", ["g"], cfg),
        dd.build_bins(db, "v", ["g"], cfg),
        ["g"],
    ).collect()[0]["ks"]
    # exact empirical two-sample KS
    allv = np.sort(np.concatenate([xa, xb]))
    cdf_a = np.searchsorted(np.sort(xa), allv, side="right") / len(xa)
    cdf_b = np.searchsorted(np.sort(xb), allv, side="right") / len(xb)
    ks_exact = float(np.max(np.abs(cdf_a - cdf_b)))
    assert abs(ks_bins - ks_exact) < 0.01, (ks_bins, ks_exact)
