"""Explicit aggregation topologies: two-phase partial->merge and salted
two-level merge for skewed keys (north-rule requirements).

Where each strategy applies:

- **Relational bins path**: group-key skew is already defused because the
  shuffle key is (keys, sign, bucket) — a hot conv_id fans out over its
  buckets, and Catalyst's partial hash-agg combines map-side.  AQE's skew
  handling covers the rest.  No salting needed; documented here so the
  choice is explicit.
- **UDAF path**: ``mapInPandas`` partials already bound the merge input to
  one blob per (group x partition).  Salting becomes necessary when the
  number of upstream partitions is huge (10^5+ partials for one group on a
  1000-executor cluster): ``salted_ddsketch_agg`` inserts an intermediate
  merge level keyed on (keys, salt) so no single reducer sees more than
  ~partitions/num_salts blobs.  Merge associativity (ddsketch.go:302-310
  contract) makes the two-level tree exact.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketchConfig
from sketches_go_spark.functions.ddsketch_fns import (
    ddsketch_merge,
    ddsketch_partial,
)


def salted_ddsketch_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    num_salts: int = 16,
    weight_col: str | None = None,
) -> DataFrame:
    """Two-level sketch merge: partial -> merge by (keys, salt) -> merge by
    keys.  The salt is derived from the partition id (spark_partition_id is
    stable within a job; correctness never depends on WHICH salt a partial
    gets — only that each partial lands in exactly one salt bucket, and the
    final merge re-combines them all).

    Identical results to the unsalted topology for non-collapsing sketches
    (exact bin-multiset equality) — asserted in tests."""
    config = config or DDSketchConfig()
    partials = ddsketch_partial(df, value_col, keys, config, weight_col)
    salted = partials.withColumn(
        "_salt", F.pmod(F.spark_partition_id(), F.lit(num_salts))
    )
    level1 = ddsketch_merge(salted, [*keys, "_salt"], config)
    return ddsketch_merge(level1.drop("_salt"), list(keys), config)


def salted_rows_ddsketch_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    num_salts: int = 16,
    weight_col: str | None = None,
) -> DataFrame:
    """Row-level salting for the 'repartition' build strategy under key skew.

    ``ddsketch_agg(strategy='repartition')`` shuffles raw rows by the group
    key, so a hot key (one conv_id holding a large share of all rows) lands
    wholly in ONE task while every other core idles — the classic skew
    bottleneck.  This topology appends a deterministic row salt
    (hash(value) % num_salts), builds one sketch per (keys, salt) — the hot
    key now splits across ``num_salts`` parallel tasks — and re-merges per
    key.  Merge associativity makes the result exactly equal to the unsalted
    build for non-collapsing sketches (asserted bin-for-bin in tests).

    Use when groups are FEW and FAT and the repartition build is forced;
    note that the map-side-combined strategies ('combine'/'bins') are
    skew-IMMUNE by construction — a hot key fans out over its per-partition
    partials / buckets — and are the first-choice answer to skew (measured:
    BASELINE.md skew run).  ``salted_ddsketch_agg`` above addresses the
    opposite regime (many tiny partials per group)."""
    config = config or DDSketchConfig()
    salt = F.pmod(F.xxhash64(F.col(value_col)), F.lit(num_salts))
    cols = [value_col] + ([weight_col] if weight_col else [])
    salted = (
        df.select(*keys, *cols)
        .withColumn("_salt", salt)
        .repartition(*keys, "_salt")
    )
    level1 = ddsketch_partial(salted, value_col, [*keys, "_salt"], config, weight_col)
    return ddsketch_merge(level1.drop("_salt"), list(keys), config)
