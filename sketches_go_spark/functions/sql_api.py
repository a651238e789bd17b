"""SQL-callable sketch aggregates: ``register_sql_functions(spark)`` makes
the library usable from plain ``spark.sql`` text, so SQL-only consumers
(BI tools, notebook users, the reference's query surface) can write

    SELECT role, sgs_ddsketch_p95(length(text)) FROM transcripts GROUP BY role

without touching the DataFrame API.

These are Arrow grouped-aggregate pandas UDFs over the SAME core sketches
(core.ddsketch / core.hll / core.kll), so estimates are identical to the
library paths.  Trade-off, stated plainly: a grouped-agg UDF materializes
each group's values into one Arrow batch — the ergonomic path, NOT the
100-TB path.  At scale use the relational bins/registers relations or the
blob build ``ddsketch_agg`` (a shuffle of map-side-combined bins, bounded
memory); this module exists for API completeness and interactive use.

Registered names (prefix ``sgs_``):
  sgs_ddsketch_p50 / p95 / p99  (double column -> double)
  sgs_ddsketch_quantile         (double column, constant q column -> double)
  sgs_hll_distinct              (string column -> double estimate)
  sgs_kll_median                (double column -> double)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core.hashing import portable_hash64_np
from sketches_go_spark.core.hll import HyperLogLog
from sketches_go_spark.core.kll import KLLSketch

DEFAULT_ALPHA = 0.01


def _dds_quantile(v: pd.Series, q: float, alpha: float) -> float:
    sk = DDSketch(DDSketchConfig(alpha=alpha))
    vals = v.to_numpy(dtype=np.float64)
    vals = vals[~np.isnan(vals)]
    if vals.size:
        sk.add(vals, on_untrackable="ignore")
    return float(sk.quantile(q)) if not sk.is_empty else float("nan")


def register_sql_functions(spark, alpha: float = DEFAULT_ALPHA) -> list[str]:
    """Register the SQL aggregate surface on ``spark``; returns the names.
    Idempotent — re-registering replaces the previous definition."""

    @pandas_udf("double")
    def sgs_ddsketch_p50(v: pd.Series) -> float:
        return _dds_quantile(v, 0.5, alpha)

    @pandas_udf("double")
    def sgs_ddsketch_p95(v: pd.Series) -> float:
        return _dds_quantile(v, 0.95, alpha)

    @pandas_udf("double")
    def sgs_ddsketch_p99(v: pd.Series) -> float:
        return _dds_quantile(v, 0.99, alpha)

    @pandas_udf("double")
    def sgs_ddsketch_quantile(v: pd.Series, q: pd.Series) -> float:
        return _dds_quantile(v, float(q.iloc[0]), alpha)

    @pandas_udf("double")
    def sgs_hll_distinct(item: pd.Series) -> float:
        h = HyperLogLog(p=12)
        h.add_hashes(portable_hash64_np(item.dropna().astype(str).to_numpy()))
        return float(h.estimate())

    @pandas_udf("double")
    def sgs_kll_median(v: pd.Series) -> float:
        sk = KLLSketch()
        vals = v.to_numpy(dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if not vals.size:
            return float("nan")
        sk.add(vals)
        return float(sk.quantile(0.5))

    fns = {
        "sgs_ddsketch_p50": sgs_ddsketch_p50,
        "sgs_ddsketch_p95": sgs_ddsketch_p95,
        "sgs_ddsketch_p99": sgs_ddsketch_p99,
        "sgs_ddsketch_quantile": sgs_ddsketch_quantile,
        "sgs_hll_distinct": sgs_hll_distinct,
        "sgs_kll_median": sgs_kll_median,
    }
    for name, fn in fns.items():
        spark.udf.register(name, fn)
    return sorted(fns)
