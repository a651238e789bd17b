"""Companion sketches on Spark: relational <-> UDAF <-> python-core parity,
and accuracy of the rank sketches through the two-phase topology."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.hashing import portable_hash64_np
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLSketch
from sketches_go_spark.core.tdigest import TDigest
from sketches_go_spark.functions import sketch_fns as sk

RNG = np.random.default_rng(23)


@pytest.fixture(scope="module")
def items_df(spark):
    n = 8000
    pdf = pd.DataFrame(
        {
            "g": RNG.choice(["x", "y"], n),
            "item": [f"it-{i % 3000}" for i in range(n)],
        }
    )
    return spark.createDataFrame(pdf).repartition(6), pdf


def test_hll_relational_matches_core(spark, items_df):
    sdf, pdf = items_df
    p = 10
    regs = sk.hll_registers(sdf, "item", ["g"], p=p).toPandas()
    for g, sub in pdf.groupby("g"):
        core = HyperLogLog(p).add_hashes(portable_hash64_np(sub["item"].tolist()))
        mine = regs[regs["g"] == g]
        expect = {
            (i, int(r)) for i, r in enumerate(core.registers) if r > 0
        }
        got = {(int(r.reg), int(r.rho)) for r in mine.itertuples()}
        assert got == expect
    # relational estimate == core estimate
    est = (
        sk.hll_estimate_relational(sdf, "item", ["g"], p=p)
        .toPandas()
        .set_index("g")["est"]
    )
    for g, sub in pdf.groupby("g"):
        core = HyperLogLog(p).add_hashes(portable_hash64_np(sub["item"].tolist()))
        assert est[g] == pytest.approx(core.estimate(), abs=1e-3)


@pytest.fixture(scope="module")
def keyed_items(spark):
    """~200 small groups, a null-key group, one ~3000-item group whose
    relation rows span many 97-row Arrow batches, and some null items."""
    rng = np.random.default_rng(29)
    n = 12000
    g = rng.integers(0, 200, n).astype(str).astype(object)
    g[rng.choice(n, 400, replace=False)] = None
    g[:4000] = "wide"
    item = np.array([f"it-{i}" for i in rng.integers(0, 5000, n)], dtype=object)
    item[:4000] = [f"w-{i % 3000}" for i in range(4000)]
    item[rng.choice(n, 300, replace=False)] = None
    pdf = pd.DataFrame({"g": g, "item": item})
    return spark.createDataFrame(pdf).repartition(5), pdf


def _blobs_by_key(spark, sketches) -> dict:
    """{g: blob} of a blob DataFrame collected with 97-row Arrow batches;
    asserts one row per group."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        rows = sketches.collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    out = {r["g"]: bytes(r["sketch"]) for r in rows}
    assert len(out) == len(rows)
    return out


def _core_blobs(pdf, build) -> dict:
    """{g: build(items).to_bytes()} over each group's non-null items."""
    live = pdf[pdf["item"].notna()]
    return {
        (None if pd.isna(g) else g): build(sub["item"].tolist()).to_bytes()
        for g, sub in live.groupby("g", dropna=False)
    }


def test_hll_udaf_matches_relational(spark, keyed_items):
    """hll_agg blobs are byte-identical to core HyperLogLogs built from the
    raw items (p=9), the null key and a group spanning Arrow batches
    included; hll_estimate_udf reads them as the core estimates."""
    sdf, pdf = keyed_items
    p = 9
    got = _blobs_by_key(spark, sk.hll_agg(sdf, "item", ["g"], p=p))
    want = _core_blobs(pdf, lambda items: HyperLogLog(p).add_hashes(portable_hash64_np(items)))
    assert None in want and len(want) == 202
    assert got == want
    est = (
        sk.hll_agg(sdf, "item", ["g"], p=p)
        .select("g", sk.hll_estimate_udf(F.col("sketch")).alias("est"))
        .collect()
    )
    for r in est:
        assert r["est"] == pytest.approx(HyperLogLog.from_bytes(want[r["g"]]).estimate(), abs=1e-4)


def test_cms_udaf_matches_relational(spark, keyed_items):
    """cms_agg blobs are byte-identical to core CountMinSketches built from
    the raw items (depth 3, width 200)."""
    from sketches_go_spark.core.cms import CountMinSketch

    sdf, pdf = keyed_items
    got = _blobs_by_key(spark, sk.cms_agg(sdf, "item", ["g"], depth=3, width=200))
    assert got == _core_blobs(pdf, lambda items: CountMinSketch(3, 200).add(items))


def test_bloom_udaf_matches_relational(spark, keyed_items):
    """bloom_agg blobs are byte-identical to core BloomFilters built from
    the raw items (3001 bits, so the packed array ends in padding; k=3)."""
    from sketches_go_spark.core.bloom import BloomFilter

    sdf, pdf = keyed_items
    got = _blobs_by_key(spark, sk.bloom_agg(sdf, "item", ["g"], m_bits=3001, k=3))
    assert got == _core_blobs(pdf, lambda items: BloomFilter(3001, 3).add(items))


def test_kll_tdigest_spark_accuracy(spark):
    n = 60000
    values = RNG.lognormal(2, 1.5, n)
    pdf = pd.DataFrame({"g": ["all"] * n, "v": values})
    sdf = spark.createDataFrame(pdf).repartition(8)
    sv = np.sort(values)

    kll = sk.kll_agg(sdf, "v", ["g"], k=200).collect()[0]
    ks = KLLSketch.from_bytes(bytes(kll["sketch"]))
    assert ks.n == n
    for q in (0.1, 0.5, 0.9, 0.99):
        rank = np.searchsorted(sv, ks.quantile(q)) / n
        assert abs(rank - q) <= 4 * ks.epsilon

    td_row = sk.tdigest_agg(sdf, "v", ["g"], delta=200.0).collect()[0]
    td = TDigest.from_bytes(bytes(td_row["sketch"]))
    assert td.n == n
    for q, tol in ((0.01, 0.005), (0.5, 0.02), (0.99, 0.005), (0.999, 0.002)):
        rank = np.searchsorted(sv, td.quantile(q)) / n
        assert abs(rank - q) <= tol


def test_kll_agg_exact_blobs_independent_of_partitioning(spark):
    """A group of at most k values never compacts, so its kll_agg blob is
    ``KLLSketch(k).add(values).to_bytes()`` (level 0 sorted) whatever the
    partitioning: 3 partitions with whole Arrow batches and 7 with 97-row
    ones give the same bytes.  NaN values are dropped, an all-NaN group
    keeps an empty sketch, and the null key is one group; the group of
    k+1 values compacts, so only its count is checked."""
    rng = np.random.default_rng(31)
    k = 64
    sizes = rng.integers(1, k + 1, 300)
    sizes[:3] = (1, k, k + 1)
    g = np.repeat(np.arange(300).astype(str), sizes).astype(object)
    v = rng.lognormal(0, 1, g.size)
    v[rng.choice(np.flatnonzero(g != "2"), 300, replace=False)] = np.nan
    g[g == "7"] = None
    only_nan = g == "8"
    g[only_nan], v[only_nan] = "nan-only", np.nan
    order = rng.permutation(g.size)
    pdf = pd.DataFrame({"g": g[order], "v": v[order]})
    # pandas' NaN reaches Spark as null: set the NaN values in Spark
    sdf = spark.createDataFrame(pdf.assign(nan=pdf["v"].isna(), v=pdf["v"].fillna(0.0))).select(
        "g", F.when(F.col("nan"), F.lit(float("nan"))).otherwise(F.col("v")).alias("v")
    )
    want = {
        (None if pd.isna(key) else key): KLLSketch(k).add(sub["v"].to_numpy()).to_bytes()
        for key, sub in pdf.groupby("g", dropna=False)
    }
    whole = {r["g"]: bytes(r["sketch"]) for r in sk.kll_agg(sdf.repartition(3), "v", ["g"], k=k).collect()}
    small = _blobs_by_key(spark, sk.kll_agg(sdf.repartition(7), "v", ["g"], k=k))
    assert len(want) == len(whole) == len(small) == 300
    assert KLLSketch.from_bytes(want["nan-only"]).n == 0 and None in want
    over = [key for key, blob in want.items() if KLLSketch.from_bytes(blob).n > k]
    assert over == ["2"]
    assert KLLSketch.from_bytes(whole["2"]).n == KLLSketch.from_bytes(small["2"]).n == k + 1
    for key in want.keys() - set(over):
        assert whole[key] == small[key] == want[key], key


@pytest.mark.parametrize("kind", ["kll", "tdigest"])
def test_empty_rank_sketch_answers_nan(spark, kind):
    """A group whose values are all NaN keeps an n = 0 sketch; its
    quantiles are NaN (null once in Spark, as with_quantiles answers an
    empty DDSketch) and the query does not fail."""
    agg, decode = {
        "kll": (sk.kll_agg, KLLSketch.from_bytes),
        "tdigest": (sk.tdigest_agg, TDigest.from_bytes),
    }[kind]
    nan = float("nan")
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", nan), ("b", nan)], "g string, v double")
    rows = {r["g"]: r for r in sk.with_sketch_quantiles(agg(df, "v", ["g"]), decode, [0.5, 0.9]).collect()}
    assert 1.0 <= rows["a"]["p50"] <= rows["a"]["p90"] <= 2.0
    assert all(x is None or np.isnan(x) for x in (rows["b"]["p50"], rows["b"]["p90"]))


def test_two_phase_high_cardinality_bounded_memory(spark, monkeypatch):
    """10^5 distinct group keys: every HLL blob equals the core sketch of
    its group's single item.  The KLL build keeps nothing across Arrow
    batches: with 97-row batches it emits one partial per group of each
    batch, and the streaming merge folds them back into each group's exact
    values, sorted.  The t-digest build, with its flush bound cut to 50
    groups, emits more partials, and they merge back to 10 values a group."""
    n_groups = 100_000
    df = (
        spark.range(n_groups)
        .select(
            F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id"),
            F.concat(F.lit("u-"), F.pmod("id", F.lit(7)).cast("string")).alias("item"),
        )
        .repartition(8)
    )
    p = 6
    got = sk.hll_agg(df, "item", ["conv_id"], p=p).toPandas()
    assert len(got) == n_groups and got["conv_id"].is_unique
    want = [HyperLogLog(p).add_hashes(portable_hash64_np([f"u-{j}"])).to_bytes() for j in range(7)]
    for conv_id, blob in zip(got["conv_id"], got["sketch"]):
        assert bytes(blob) == want[int(conv_id[5:]) % 7]

    vals = spark.range(20_000).select(
        F.pmod("id", F.lit(2000)).cast("string").alias("g"), F.col("id").cast("double").alias("v")
    ).repartition(3)

    def batch_groups(batches):
        for pdf in batches:
            yield pd.DataFrame({"rows": [len(pdf)], "groups": [pdf["g"].nunique()]})

    def tdigest_partials() -> int:
        with monkeypatch.context() as m:
            m.setattr(sk, "two_phase_merge", lambda partials, *a, **kw: partials)
            return sk.tdigest_agg(vals, "v", ["g"]).count()

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        with monkeypatch.context() as m:
            m.setattr(sk, "two_phase_merge", lambda partials, *a, **kw: partials)
            partials = sk.kll_agg(vals, "v", ["g"], k=200).toPandas()
        batches = vals.mapInPandas(batch_groups, "rows long, groups long").toPandas()
        merged = sk.kll_agg(vals, "v", ["g"], k=200).collect()
        # t-digest keeps one object per group and task up to _FLUSH_GROUPS
        unflushed = tdigest_partials()
        monkeypatch.setattr(sk, "_FLUSH_GROUPS", 50)
        assert tdigest_partials() > unflushed
        digests = sk.tdigest_agg(vals, "v", ["g"]).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(digests) == 2000
    assert all(TDigest.from_bytes(bytes(r["sketch"])).n == 10 for r in digests)
    assert batches["rows"].max() == 97
    assert len(partials) == batches["groups"].sum() > 2000
    sizes = [KLLSketch.from_bytes(bytes(b)).n for b in partials["sketch"]]
    assert sum(sizes) == 20_000 and max(sizes) <= 97
    assert len(merged) == 2000
    for r in merged:
        s = KLLSketch.from_bytes(bytes(r["sketch"]))
        # 10 values per group never compact at k=200: level 0 holds them all
        assert s.n == 10 and len(s.levels) == 1
        assert np.array_equal(s.levels[0], np.arange(int(r["g"]), 20_000, 2000, dtype=float))


def test_null_group_key_merges_to_one_row(spark):
    """A NULL group key must produce exactly ONE merged sketch row through
    the streaming merge (NaN never equals itself — the run comparison must
    normalize it), matching groupBy null semantics."""
    import pandas as pd

    from sketches_go_spark.functions import ddsketch_fns as dd

    pdf = pd.DataFrame(
        {
            "g": ["a", None, None, "a", None, "b"] * 50,
            "v": [float(i % 7 + 1) for i in range(300)],
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(6)
    out = dd.ddsketch_agg(sdf, "v", ["g"]).toPandas()
    assert len(out) == 3  # a, b, NULL — one row each
    hll = sk.hll_agg(
        sdf.withColumn("item", F.col("v").cast("string")), "item", ["g"], p=6
    ).toPandas()
    assert len(hll) == 3


def test_with_quantile_rank_transform(spark):
    """Per-row quantile normalization: max of a group ranks 1.0, ranks are
    monotone in value within a group, the rank of the p-th percentile value
    is ~p (alpha-accurate), the broadcast plan never shuffles the data rows
    through a SortMergeJoin, and collapsing configs are rejected."""
    import numpy as np
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from sketches_go_spark.core.ddsketch import DDSketchConfig
    from sketches_go_spark.functions import ddsketch_fns as dd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "id": np.arange(20_000),
            "g": np.where(np.arange(20_000) % 2 == 0, "a", "b"),
            "v": rng.lognormal(1.0, 1.5, 20_000),
        }
    )
    df = spark.createDataFrame(pdf)
    cfg = DDSketchConfig(alpha=0.01)
    out = dd.with_quantile_rank(df, "v", ["g"], cfg)
    got = out.toPandas()
    assert len(got) == len(pdf)
    for g, grp in got.groupby("g"):
        s = grp.sort_values("v")
        assert s["qrank"].is_monotonic_increasing
        assert s["qrank"].iloc[-1] == 1.0
        assert s["qrank"].iloc[0] > 0.0
        # empirical rank vs sketch rank: within alpha-ish tolerance
        emp = np.arange(1, len(s) + 1) / len(s)
        assert np.abs(s["qrank"].to_numpy() - emp).max() < 0.05
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    with pytest.raises(ValueError):
        dd.with_quantile_rank(
            df, "v", ["g"], DDSketchConfig(alpha=0.01, max_bins=64)
        )
    with pytest.raises(ValueError):
        dd.with_quantile_rank(df.withColumn("qrank", F.lit(0)), "v", ["g"], cfg)
