"""Catalyst twins of the interpolated index mappings (round-2 verdict item 1).

The relational path (functions/expressions.py) must produce the SAME buckets
as the numpy core for every mapping the config can carry — previously the
logarithmic formula was silently applied to linear/cubic configs.  These
tests pin:

* pow(2.0, integral) exactness on the JVM and in DuckDB (the one platform
  assumption behind the exact-frexp construction),
* bit-exact index parity Catalyst vs core vs DuckDB-oracle-SQL for
  LinearlyInterpolatedMapping and CubicallyInterpolatedMapping over
  adversarial inputs (powers of two, nextafter around bucket edges),
* UDAF-vs-relational quantile parity under both interpolated configs,
* NotImplementedError for unsupported mapping types (no silent wrong math).

Parity: linearly_interpolated_mapping.go:71-99,
cubically_interpolated_mapping.go:78-124, bit_operation_helper.go:13-26.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core.mapping import (
    CubicallyInterpolatedMapping,
    LinearlyInterpolatedMapping,
    LogarithmicMapping,
    _BaseMapping,
)
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.functions import oracles
from sketches_go_spark.functions.expressions import (
    bucket_index,
    bucket_value,
    sign_bucket,
)

MAPPINGS = [
    LinearlyInterpolatedMapping.from_relative_accuracy(0.01),
    CubicallyInterpolatedMapping.from_relative_accuracy(0.01),
    LinearlyInterpolatedMapping.from_relative_accuracy(0.0042),
    CubicallyInterpolatedMapping.from_relative_accuracy(0.05),
]


def _adversarial_values(mapping, n_random=20000, seed=7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    pows = 2.0 ** rng.integers(-1000, 1000, 1500).astype(float)
    lb = mapping.lower_bound(rng.integers(-2000, 2000, 1500))
    vals = np.concatenate(
        [
            rng.lognormal(0, 3, n_random),
            np.exp(rng.uniform(-300, 300, 3000)),
            pows,
            np.nextafter(pows, np.inf),
            np.nextafter(pows, 0),
            lb,
            np.nextafter(lb, np.inf),
            np.nextafter(lb, 0),
        ]
    )
    return vals[np.isfinite(vals) & (vals > 0)]


def test_pow2_integral_is_exact_on_jvm(spark):
    """The exact-frexp construction needs pow(2.0, n) == ldexp(1, n) exactly
    for every exponent a normal double can carry."""
    es = list(range(-1074, 1024))
    df = spark.createDataFrame(pd.DataFrame({"e": [float(e) for e in es]}))
    got = (
        df.select(F.pow(F.lit(2.0), F.col("e")).alias("p"))
        .toPandas()["p"]
        .to_numpy()
    )
    expected = np.array([math.ldexp(1.0, e) for e in es])
    assert (got == expected).all()


def test_pow2_integral_is_exact_in_duckdb(duck):
    es = list(range(-1074, 1024))
    duck.register("sgs_pow2_es", pd.DataFrame({"e": [float(e) for e in es]}))
    got = duck.execute("select power(2.0, e) as p from sgs_pow2_es order by e").df()[
        "p"
    ].to_numpy()
    expected = np.array([math.ldexp(1.0, e) for e in es])
    assert (got == expected).all()


@pytest.mark.parametrize("mapping", MAPPINGS, ids=lambda m: f"{type(m).__name__}-g{m.gamma:.4f}")
def test_catalyst_index_bit_exact(spark, mapping):
    vals = _adversarial_values(mapping)
    in_range = (vals > mapping.min_indexable) & (vals <= mapping.max_indexable)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = (
        df.select(bucket_index(F.col("v"), mapping).alias("i"))
        .toPandas()["i"]
        .to_numpy()
    )
    expected = mapping.index(vals)
    assert (got[in_range] == expected[in_range]).all()


@pytest.mark.parametrize("mapping", MAPPINGS[:2], ids=lambda m: type(m).__name__)
def test_duckdb_oracle_index_bit_exact(duck, mapping):
    vals = _adversarial_values(mapping)
    in_range = (vals > mapping.min_indexable) & (vals <= mapping.max_indexable)
    duck.register("sgs_map_vals", pd.DataFrame({"v": vals}))
    got = duck.execute(
        f"select {oracles.bucket_index_sql(mapping, 'v')} as i from sgs_map_vals"
    ).df()["i"].to_numpy()
    expected = mapping.index(vals)
    assert (got[in_range] == expected[in_range]).all()


def test_linear_bucket_value_bit_exact(spark):
    mapping = MAPPINGS[0]
    idxs = np.unique(mapping.index(_adversarial_values(mapping, n_random=5000)))
    df = spark.createDataFrame(pd.DataFrame({"i": idxs.astype(int)}))
    got = (
        df.select(F.expr(bucket_value("i", mapping)).alias("x"))
        .toPandas()["x"]
        .to_numpy()
    )
    expected = mapping.value(idxs)
    finite = np.isfinite(expected)
    assert (got[finite] == expected[finite]).all()


def test_cubic_bucket_value_within_cbrt_ulp(spark):
    """JVM Math.cbrt and libm cbrt may differ in the last ulp; the quantile
    estimates round to 6 decimals, which absorbs it — assert the raw twin is
    within a few ulp and the rounded value matches."""
    mapping = MAPPINGS[1]
    idxs = np.unique(mapping.index(_adversarial_values(mapping, n_random=5000)))
    df = spark.createDataFrame(pd.DataFrame({"i": idxs.astype(int)}))
    got = (
        df.select(F.expr(bucket_value("i", mapping)).alias("x"))
        .toPandas()["x"]
        .to_numpy()
    )
    expected = mapping.value(idxs)
    finite = np.isfinite(expected)
    rel = np.abs(got[finite] / expected[finite] - 1.0)
    assert rel.max() < 1e-14
    # round-6 absorbs the ulp noise only where the absolute ulp is << 1e-6,
    # i.e. moderate magnitudes — the regime every driver estimate lives in
    moderate = finite & (np.abs(expected) < 1e6)
    assert (np.round(got[moderate], 6) == np.round(expected[moderate], 6)).all()


@pytest.mark.parametrize("interp", ["linear", "cubic"])
def test_relational_bins_match_core_sketch(spark, interp):
    """build_bins under an interpolated config produces exactly the bins the
    core DDSketch accumulates — the round-2 footgun, now correct."""
    cfg = DDSketchConfig(alpha=0.02, interpolation=interp)
    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [rng.lognormal(2, 1.5, 4000), -rng.lognormal(0, 1, 1000), np.zeros(50)]
    )
    sk = DDSketch(config=cfg)
    sk.add(vals)
    df = spark.createDataFrame(pd.DataFrame({"v": vals, "g": 1}))
    bins = (
        dd.build_bins(df, "v", ["g"], cfg)
        .orderBy("sign", "bucket")
        .collect()
    )
    got = {(r.sign, r.bucket): r["count"] for r in bins}
    expected = {(1, int(i)): float(c) for i, c in zip(sk.pos_idx, sk.pos_cnt)}
    expected.update(
        {(-1, int(i)): float(c) for i, c in zip(sk.neg_idx, sk.neg_cnt)}
    )
    if sk.zero_count:
        expected[(0, 0)] = float(sk.zero_count)
    assert got == expected


@pytest.mark.parametrize("interp", ["linear", "cubic"])
def test_udaf_vs_relational_quantile_parity(spark, interp):
    cfg = DDSketchConfig(alpha=0.02, interpolation=interp)
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 5, 6000).astype(str),
            "v": rng.lognormal(1, 2, 6000),
        }
    )
    df = spark.createDataFrame(pdf)
    qs = (0.5, 0.9, 0.99)
    rel = (
        dd.ddsketch_quantiles_relational(df, "v", ["g"], qs, cfg)
        .orderBy("g", "q")
        .collect()
    )
    sketches = dd.ddsketch_agg(df, "v", ["g"], cfg)
    wide = {
        r.g: (r.p50, r.p90, r.p99)
        for r in dd.with_quantiles(sketches, qs, prefix="p").collect()
    }
    rel_wide: dict = {}
    for r in rel:
        rel_wide.setdefault(r.g, []).append(r.est)
    assert {g: tuple(v) for g, v in rel_wide.items()} == wide


def test_unknown_mapping_raises():
    class WeirdMapping(_BaseMapping):
        interpolation = "weird"

        def __post_init__(self):
            self._set("multiplier", 1.0)
            self._set("min_indexable", 1e-300)
            self._set("max_indexable", 1e300)

        def relative_accuracy(self):
            return 0.01

    weird = WeirdMapping(gamma=1.02, index_offset=0.0)
    with pytest.raises(NotImplementedError):
        bucket_index(F.lit(1.0), weird)
    with pytest.raises(NotImplementedError):
        bucket_value("1", weird)
    with pytest.raises(NotImplementedError):
        sign_bucket(F.lit(1.0), weird)
    with pytest.raises(NotImplementedError):
        oracles.index_sql(weird, "v")


def test_change_mapping_rejects_interpolated(spark):
    cfg_lin = DDSketchConfig(alpha=0.02, interpolation="linear")
    cfg_log = DDSketchConfig(alpha=0.01)
    df = spark.createDataFrame(pd.DataFrame({"g": [1], "sign": [1], "bucket": [3], "count": [1.0]}))
    with pytest.raises(NotImplementedError):
        dd.change_mapping_bins(df, ["g"], cfg_lin, cfg_log)
    with pytest.raises(NotImplementedError):
        dd.change_mapping_bins(df, ["g"], cfg_log, cfg_lin)


@pytest.mark.parametrize("interp", ["linear", "cubic"])
def test_interpolated_sketch_serialization_roundtrip(interp):
    """Custom-codec and protobuf round-trips preserve the interpolated
    mapping (gamma, offset, interpolation enum) and the full bin multiset —
    the mapping subflag/enum dispatch, not just the logarithmic default."""
    from sketches_go_spark.core.encoding import decode_sketch, encode_sketch
    from sketches_go_spark.core.protobuf import decode_proto, encode_proto

    cfg = DDSketchConfig(alpha=0.02, interpolation=interp)
    rng = np.random.default_rng(23)
    vals = np.concatenate([rng.lognormal(1, 2, 3000), -rng.lognormal(0, 1, 500)])
    sk = DDSketch.from_values(vals, config=cfg)

    back = decode_sketch(encode_sketch(sk))
    assert type(back.mapping) is type(sk.mapping)
    assert back.mapping.equals(sk.mapping)
    assert np.array_equal(back.pos_idx, sk.pos_idx)
    assert np.allclose(back.pos_cnt, sk.pos_cnt)
    assert np.array_equal(back.neg_idx, sk.neg_idx)

    pback = decode_proto(encode_proto(sk))
    assert type(pback.mapping) is type(sk.mapping)
    assert pback.mapping.equals(sk.mapping)
    assert np.array_equal(pback.pos_idx, sk.pos_idx)
    assert np.allclose(pback.pos_cnt, sk.pos_cnt)

    # merge gate: decoded sketch merges with a same-config sketch...
    other = DDSketch.from_values(rng.lognormal(1, 2, 100), config=cfg)
    back.merge(other)
    # ...and refuses a different-interpolation one
    log_sk = DDSketch.from_values(vals[:100], config=DDSketchConfig(alpha=0.02))
    with pytest.raises(ValueError):
        back.merge(log_sk)


def test_log_mapping_still_matches_core_closely(spark):
    """The log twin keeps its original (1-ulp-at-edges) contract: indexes
    must agree with the core except possibly exactly at bucket boundaries."""
    mapping = LogarithmicMapping.from_relative_accuracy(0.01)
    rng = np.random.default_rng(3)
    vals = rng.lognormal(0, 3, 20000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals}))
    got = (
        df.select(bucket_index(F.col("v"), mapping).alias("i"))
        .toPandas()["i"]
        .to_numpy()
    )
    expected = mapping.index(vals)
    assert (np.abs(got - expected) <= 1).all()
    assert (got == expected).mean() > 0.9999
