"""Floating-point group keys through every blob build and merge: null, NaN
and -0.0/0.0 form the groups Spark's ``groupBy`` forms (null and NaN
apart, -0.0 folded into 0.0), and each group's blob holds its own rows."""

import math

import pytest

from sketches_go_spark.core.bloom import BloomFilter
from sketches_go_spark.core.cms import CountMinSketch
from sketches_go_spark.core.encoding import decode_sketch
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLSketch
from sketches_go_spark.core.tdigest import TDigest
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.functions import sketch_fns as sk

NAN = float("nan")

# (key, value, item); each key repeated three times
CASES = {
    "null_nan_zeros": [(None, 1.0, "a"), (NAN, 2.0, "b"), (-0.0, 3.0, "c"), (0.0, 4.0, "d")],
    "null_next_to_nan": [(None, 1.0, "a"), (NAN, 2.0, "b")],
}


def _key(g):
    """A key as a comparable label: None, 'nan' or the float (0.0 for -0.0)."""
    if g is None:
        return None
    return "nan" if math.isnan(g) else g + 0.0


def _expected(rows):
    groups = {}
    for g, v, item in rows * 3:
        values, items = groups.setdefault(_key(g), ([], set()))
        values.append(v)
        items.add(item)
    return groups


def _builds(df):
    kll = sk.kll_agg(df, "v", ["g"])
    ddsketch = dd.ddsketch_agg(df, "v", ["g"])
    return {
        "ddsketch_agg": (ddsketch, "dd"),
        "ddsketch_merge": (dd.ddsketch_merge(ddsketch.union(ddsketch), ["g"]), "dd2"),
        "hll_agg": (sk.hll_agg(df, "item", ["g"]), "hll"),
        "cms_agg": (sk.cms_agg(df, "item", ["g"]), "cms"),
        "bloom_agg": (sk.bloom_agg(df, "item", ["g"]), "bloom"),
        "kll_agg": (kll, "kll"),
        "tdigest_agg": (sk.tdigest_agg(df, "v", ["g"]), "tdigest"),
        "two_phase_merge": (sk.two_phase_merge(kll.union(kll), ["g"], KLLSketch.from_bytes), "kll2"),
    }


def _check_blob(kind, blob, values, items):
    if kind in ("dd", "dd2"):
        s = decode_sketch(blob)
        assert s.count == len(values) * (2 if kind == "dd2" else 1)
        assert s.quantiles([0.0, 1.0]) == pytest.approx([min(values), max(values)], rel=0.02)
    elif kind == "hll":
        assert round(HyperLogLog.from_bytes(blob).estimate()) == len(items)
    elif kind == "cms":
        cms = CountMinSketch.from_bytes(blob)
        assert list(cms.estimate(sorted(items))) == [3] * len(items)
    elif kind == "bloom":
        bloom = BloomFilter.from_bytes(blob)
        assert bloom.might_contain(sorted(items)).all()
    elif kind in ("kll", "kll2"):
        s = KLLSketch.from_bytes(blob)
        assert s.n == len(values) * (2 if kind == "kll2" else 1)
        assert s.quantiles([0.0, 1.0]) == pytest.approx([min(values), max(values)])
    else:
        t = TDigest.from_bytes(blob)
        assert t.quantiles([0.0, 1.0]) == pytest.approx([min(values), max(values)])


@pytest.mark.parametrize("case", sorted(CASES))
def test_float_keys_group_as_spark_groups(spark, case):
    rows = CASES[case]
    expected = _expected(rows)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        df = spark.createDataFrame(rows * 3, "g double, v double, item string")
        spark_groups = sorted(map(repr, (_key(r["g"]) for r in df.groupBy("g").count().collect())))
        assert spark_groups == sorted(map(repr, expected))
        for name, (out, kind) in _builds(df).items():
            got = [(r["g"], bytes(r["sketch"])) for r in out.collect()]
            assert sorted(repr(_key(g)) for g, _ in got) == spark_groups, name
            assert all(g is None or not math.copysign(1.0, g) < 0 for g, _ in got), name
            for g, blob in got:
                values, items = expected[_key(g)]
                _check_blob(kind, blob, values, items)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
