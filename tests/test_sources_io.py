"""Cross-format transcript sources + sketch sink round-trips: the identical
bins relation must come out of every landing format, and persisted sketch
blobs must decode byte-exactly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketchConfig
from sketches_go_spark.core.encoding import decode_sketch
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.sources import io as sio
from sketches_go_spark.sources.transcripts import transcripts_from_events
from tests.conftest import SF_SMOKE

CFG = DDSketchConfig(alpha=0.01)


def _bins_pdf(t):
    src = t.select("role", F.length("text").cast("double").alias("v"))
    return (
        dd.build_bins(src, "v", ["role"], CFG)
        .orderBy("role", "sign", "bucket")
        .toPandas()
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_transcripts_roundtrip_all_formats(spark, tmp_path, fmt):
    t = transcripts_from_events(spark, SF_SMOKE).drop("value")
    want = _bins_pdf(t)
    path = str(tmp_path / f"t_{fmt}")
    sio.write_transcripts(t, path, fmt=fmt)
    back = sio.read_transcripts(spark, path, fmt=fmt)
    assert [f.name for f in back.schema.fields] == [
        f.name for f in sio.TRANSCRIPT_SCHEMA.fields
    ]
    got = _bins_pdf(back)
    assert want.equals(got), fmt
    # per-turn text equality under stable (conv_id, turn_idx) ordering —
    # the north rule's per-row invariant, across the format round-trip
    a = t.orderBy("conv_id", "turn_idx").select("text").toPandas()
    b = back.orderBy("conv_id", "turn_idx").select("text").toPandas()
    assert a.equals(b), fmt


def test_sketch_sink_roundtrip(spark, tmp_path):
    t = transcripts_from_events(spark, SF_SMOKE)
    src = t.select("role", F.length("text").cast("double").alias("v"))
    sketches = dd.ddsketch_agg(src, "v", ["role"], CFG, strategy="bins")
    want = {r["role"]: bytes(r["sketch"]) for r in sketches.collect()}
    path = str(tmp_path / "sketch_warehouse")
    sio.write_sketches(sketches, path, partition_by=["role"])
    back = sio.read_sketches(spark, path)
    got = {r["role"]: bytes(r["sketch"]) for r in back.collect()}
    assert want == got  # byte-exact blob round-trip
    # and the read-back blobs answer queries
    q = dd.with_quantiles(back, [0.5]).select("role", "p50").collect()
    for r in q:
        s = decode_sketch(got[r["role"]])
        assert r["p50"] == pytest.approx(round(s.quantile(0.5), 6))
    # partition pruning: a role-filtered scan reads one partition directory
    plan = back.where(F.col("role") == "user")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(role" in plan or "role#" in plan


@pytest.mark.parametrize("partition_by", [(), ("role",)], ids=["flat", "partitioned"])
def test_read_sketches_schema_equals_inferred(spark, tmp_path, partition_by):
    """read_sketches takes a flat store's schema from its first part file's
    footer without a Spark job, falls back to inference for a partitioned
    one, and either way reads the schema and rows inference gives."""
    t = transcripts_from_events(spark, SF_SMOKE)
    src = t.select("role", "tool", F.length("text").cast("double").alias("v"))
    stores = {
        "sketch": dd.ddsketch_agg(src, "v", ["role", "tool"], CFG),
        "bins": dd.build_bins(src, "v", ["role", "tool"], CFG),
    }
    sc = spark.sparkContext
    for kind, df in stores.items():
        path = str(tmp_path / kind)
        sio.write_sketches(df, path, partition_by=partition_by)
        group = f"read_sketches-{kind}-{len(partition_by)}"
        sc.setJobGroup(group, "schema of a stored sketch relation")
        try:
            back = sio.read_sketches(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert (len(jobs) > 0) == bool(partition_by), kind
        inferred = spark.read.parquet(path)
        assert back.schema == inferred.schema, kind
        assert sorted(map(repr, back.collect())) == sorted(map(repr, inferred.collect())), kind


def test_csv_roundtrip_hostile_text(spark, tmp_path):
    """Transcript text containing commas, quotes, newlines and unicode must
    survive the CSV round trip byte-for-byte (RFC-4180 quoting + multiLine)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c-0", "c-0", "c-1"],
            "turn_idx": np.array([0, 1, 0], dtype=np.int32),
            "role": ["user", "assistant", "tool"],
            "text": [
                'hello, "world"\nsecond line',
                "unicode: é中文 \U0001f600, and a comma",
                None,
            ],
            "tool": [None, None, "tool-1"],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00.000001",
                    "2024-01-01 00:00:01.000000",
                    "2024-01-01 00:00:02.500000",
                ]
            ),
        }
    )
    t = spark.createDataFrame(pdf)
    path = str(tmp_path / "hostile_csv")
    sio.write_transcripts(t, path, fmt="csv")
    back = sio.read_transcripts(spark, path, fmt="csv")
    a = t.orderBy("conv_id", "turn_idx").toPandas()
    b = back.orderBy("conv_id", "turn_idx").toPandas()
    assert a.equals(b)


def test_sft_jsonl_sink_roundtrip(spark, tmp_path):
    """The SFT training-set handoff: assembled examples -> JSONL text files
    -> read back under the explicit SFT_EXAMPLE_SCHEMA must reproduce the
    assembled relation exactly (including hostile text: quotes, backslashes,
    newlines-in-render, unicode)."""
    from sketches_go_spark.operators import assemble

    t = transcripts_from_events(spark, SF_SMOKE).drop("value")
    conv = assemble.assemble_conversations(t)
    path = str(tmp_path / "sft_jsonl")
    sio.write_sft_jsonl(assemble.sft_jsonl(conv), path)
    back = sio.read_sft_jsonl(spark, path)
    # JSON file sources relax nullability — names and types must still match
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in sio.SFT_EXAMPLE_SCHEMA.fields
    ]
    a = conv.orderBy("conv_id").toPandas()
    b = back.orderBy("conv_id").toPandas()
    assert a.equals(b)
