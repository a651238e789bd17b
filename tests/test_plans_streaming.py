"""Salted topology equivalence, checkpoint/resume with injected failure,
and Structured Streaming sketch aggregation (file source, availableNow)."""

import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.core.encoding import decode_sketch
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.plans.checkpoint import CheckpointedSketchJob
from sketches_go_spark.plans.twophase import (
    salted_ddsketch_agg,
    salted_rows_ddsketch_agg,
)
from sketches_go_spark.streaming.stream_agg import (
    foreach_batch_quantiles,
    stateful_sketch_stream,
    streaming_bins,
)

CFG = DDSketchConfig(alpha=0.01)
RNG = np.random.default_rng(31)


@pytest.fixture(scope="module")
def skewed(spark):
    n = 30000
    # one hot key owning 80% of rows — the salting scenario
    pdf = pd.DataFrame(
        {
            "g": np.where(RNG.uniform(size=n) < 0.8, "hot", RNG.choice(["a", "b", "c"], n)),
            "v": RNG.lognormal(2, 1, n),
        }
    )
    return spark.createDataFrame(pdf).repartition(16), pdf


def test_salted_equals_unsalted(spark, skewed):
    sdf, pdf = skewed
    plain = dd.ddsketch_agg(sdf, "v", ["g"], CFG).collect()
    salted = salted_ddsketch_agg(sdf, "v", ["g"], CFG, num_salts=8).collect()
    plain_m = {r["g"]: decode_sketch(bytes(r["sketch"])) for r in plain}
    salt_m = {r["g"]: decode_sketch(bytes(r["sketch"])) for r in salted}
    assert plain_m.keys() == salt_m.keys()
    for g in plain_m:
        a, b = plain_m[g], salt_m[g]
        assert np.array_equal(a.pos_idx, b.pos_idx)
        assert np.allclose(a.pos_cnt, b.pos_cnt)
        assert a.count == pytest.approx(b.count)
        # and both match a local sketch of the same rows
        core = DDSketch.from_values(pdf[pdf["g"] == g]["v"].to_numpy(), config=CFG)
        assert np.array_equal(a.pos_idx, core.pos_idx)


def test_row_salted_equals_unsalted(spark, skewed):
    """Row-level salting (the repartition-strategy skew fix) must produce
    bin-for-bin identical sketches to the unsalted build."""
    sdf, pdf = skewed
    plain = dd.ddsketch_agg(sdf, "v", ["g"], CFG, strategy="repartition").collect()
    salted = salted_rows_ddsketch_agg(sdf, "v", ["g"], CFG, num_salts=8).collect()
    plain_m = {r["g"]: decode_sketch(bytes(r["sketch"])) for r in plain}
    salt_m = {r["g"]: decode_sketch(bytes(r["sketch"])) for r in salted}
    assert plain_m.keys() == salt_m.keys()
    for g in plain_m:
        a, b = plain_m[g], salt_m[g]
        assert np.array_equal(a.pos_idx, b.pos_idx)
        assert np.allclose(a.pos_cnt, b.pos_cnt)
        assert a.count == pytest.approx(b.count)
        assert a.exact_min == b.exact_min and a.exact_max == b.exact_max


def test_checkpoint_resume_after_failure(spark, skewed, tmp_path):
    sdf, pdf = skewed
    job_dir = str(tmp_path / "ckpt")
    job = CheckpointedSketchJob(job_dir, keys=["g"], n_slices=8, slices_per_batch=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(sdf, "v", fail_after_slices=3)
    assert len(job.completed_slices()) == 3
    with pytest.raises(RuntimeError, match="incomplete"):
        job.result(spark)
    # resume: a fresh job object over the same dir skips completed slices
    job2 = CheckpointedSketchJob(job_dir, keys=["g"], n_slices=8, slices_per_batch=2)
    job2.run(sdf, "v")
    assert len(job2.completed_slices()) == 8
    merged = {
        r["g"]: decode_sketch(bytes(r["sketch"])) for r in job2.result(spark).collect()
    }
    for g, sub in pdf.groupby("g"):
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        assert merged[g].count == pytest.approx(core.count)
        assert np.array_equal(merged[g].pos_idx, core.pos_idx)
    m = job2.metrics()
    assert set(m["slice_id"]) == set(range(8))
    # only 4 distinct keys over 8 hash slices: some slices are legitimately
    # empty (0 groups, 0 bytes); non-empty ones must have real footprints
    assert m["n_groups"].sum() == pdf["g"].nunique()
    nonempty = m[m["n_groups"] > 0]
    assert len(nonempty) > 0 and (nonempty["bytes_written"] > 0).all()


def test_checkpoint_high_cardinality_keys(spark, tmp_path):
    """Per-conv_id granularity: 20k groups through the executor-side
    checkpoint path (no driver materialization of partials), resumable."""
    n_groups = 20_000
    sdf = (
        spark.range(n_groups * 3)
        .select(
            F.concat(
                F.lit("conv-"), F.pmod("id", F.lit(n_groups)).cast("string")
            ).alias("conv_id"),
            (F.col("id") % 97 + 1).cast("double").alias("v"),
        )
        .repartition(8)
    )
    job_dir = str(tmp_path / "ckpt_hc")
    job = CheckpointedSketchJob(job_dir, keys=["conv_id"], n_slices=4,
                                slices_per_batch=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(sdf, "v", fail_after_slices=2)
    job2 = CheckpointedSketchJob(job_dir, keys=["conv_id"], n_slices=4,
                                 slices_per_batch=2)
    job2.run(sdf, "v")
    res = job2.result(spark)
    assert res.count() == n_groups
    m = job2.metrics()
    assert m["n_groups"].sum() == n_groups
    # spot-check one group end to end: 3 values per conv
    row = res.where(F.col("conv_id") == "conv-42").collect()[0]
    s = decode_sketch(bytes(row["sketch"]))
    assert s.count == pytest.approx(3.0)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    n = 5000
    pdf = pd.DataFrame(
        {
            "g": RNG.choice(["x", "y"], n),
            "v": RNG.exponential(10, n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), "s"),
        }
    )
    spark.createDataFrame(pdf).repartition(4).write.mode("overwrite").parquet(
        str(d / "data")
    )
    return d, pdf


def test_streaming_bins_matches_batch(spark, stream_dir):
    d, pdf = stream_dir
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    bins = streaming_bins(stream, "v", ["g"], CFG)
    sink: list = []
    q = (
        bins.writeStream.outputMode("complete")
        .foreachBatch(foreach_batch_quantiles(["g"], [0.5, 0.99], CFG, sink))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(d / "ckpt1"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r[1], r[2]): r[3] for r in sink}  # (g, q) -> est
    for g, sub in pdf.groupby("g"):
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        for qq in (0.5, 0.99):
            assert got[(g, qq)] == pytest.approx(core.quantile(qq), abs=1e-6)


def test_foreach_batch_writer_callable(spark, stream_dir):
    """Production sink shape: foreachBatch hands the quantiles DataFrame to
    a writer callable that writes executor-side (no driver collect)."""
    d, pdf = stream_dir
    out_dir = d / "writer_out"
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    bins = streaming_bins(stream, "v", ["g"], CFG)

    def writer(out_df, batch_id: int) -> None:
        out_df.write.mode("append").parquet(str(out_dir))

    q = (
        bins.writeStream.outputMode("complete")
        .foreachBatch(foreach_batch_quantiles(["g"], [0.5, 0.99], CFG, writer))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(d / "ckpt_writer"))
        .start()
    )
    q.awaitTermination(120)
    written = spark.read.parquet(str(out_dir))
    got = {(r["g"], r["q"]): r["est"] for r in written.collect()}
    for g, sub in pdf.groupby("g"):
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        for qq in (0.5, 0.99):
            assert got[(g, qq)] == pytest.approx(core.quantile(qq), abs=1e-6)


def test_stateful_sketch_stream(spark, stream_dir):
    d, pdf = stream_dir
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    out = stateful_sketch_stream(stream, "v", ["g"], CFG, quantiles=(0.5, 0.95))
    q = (
        out.writeStream.format("memory")
        .queryName("sgs_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(d / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    res = spark.table("sgs_stateful").toPandas()
    # last emitted row per group = final state
    final = res.groupby("g").tail(1).set_index("g")
    for g, sub in pdf.groupby("g"):
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        assert final.loc[g, "n"] == pytest.approx(core.count)
        assert final.loc[g, "p50"] == pytest.approx(core.quantile(0.5), rel=1e-9)
        assert final.loc[g, "p95"] == pytest.approx(core.quantile(0.95), rel=1e-9)


def test_per_task_metrics(spark, skewed):
    """North-rule per-task metrics: one record per task of the partial and
    merge stages, with row counts and wall time."""
    from sketches_go_spark.plans.metrics import TaskMetricsCollector

    sdf, pdf = skewed
    mc = TaskMetricsCollector(spark, name="test-job")
    dd.ddsketch_agg(sdf, "v", ["g"], CFG, strategy="combine", metrics=mc).count()
    recs = mc.records()
    assert len(recs) >= 2  # at least partial tasks + merge tasks
    frame = mc.to_frame()
    assert frame["rows_in"].sum() >= len(pdf)  # partials saw every row
    assert (frame["wall_sec"] >= 0).all()
    assert (frame["partition_id"] >= 0).all()
    assert frame["stage_id"].nunique() >= 2  # two distinct stages reported


def test_streaming_windowed_watermark(spark, stream_dir):
    """Event-time tumbling windows + watermark over the bins aggregation:
    per-window quantiles equal batch quantiles of the same window slices."""
    d, pdf = stream_dir
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    bins = streaming_bins(
        stream, "v", ["g"], CFG, time_col="ts", window="20 minutes",
        watermark="5 minutes",
    )
    q = (
        bins.writeStream.format("memory")
        .queryName("sgs_windowed")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(d / "ckpt3"))
        .start()
    )
    q.awaitTermination(120)
    res = spark.table("sgs_windowed")
    out = dd.quantiles_from_bins(
        res.select(F.col("window.start").alias("w"), "g", "sign", "bucket", "count"),
        ["w", "g"],
        [0.5],
        CFG,
    ).toPandas().set_index(["w", "g"])["est"]
    assert len(out) > 2  # multiple windows materialized
    # batch oracle: same windows in pandas
    pdf2 = pdf.copy()
    pdf2["w"] = pdf2["ts"].dt.floor("20min")
    for (w, g), sub in pdf2.groupby(["w", "g"]):
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        assert out[(w, g)] == pytest.approx(core.quantile(0.5), abs=1e-6)


def test_streaming_hll_and_cms_equal_batch(spark, stream_dir):
    """Streaming register/counter relations (max-/sum-monoids in the state
    store) must equal their batch twins row-for-row after availableNow."""
    from sketches_go_spark.functions import sketch_fns as sk
    from sketches_go_spark.streaming.stream_agg import (
        streaming_cms_counters,
        streaming_hll_registers,
    )

    d, pdf = stream_dir
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    batch = spark.read.parquet(str(d / "data"))
    batch_items = batch.select("g", F.col("v").cast("string").alias("item"))
    stream_items = stream.select("g", F.col("v").cast("string").alias("item"))

    hll_q = (
        streaming_hll_registers(stream_items, "item", ["g"], p=8)
        .writeStream.format("memory").queryName("sgs_hll_regs")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    hll_q.awaitTermination(300)
    got = spark.table("sgs_hll_regs").orderBy("g", "reg").toPandas()
    want = (
        sk.hll_registers(batch_items, "item", ["g"], p=8)
        .orderBy("g", "reg").toPandas()
    )
    assert want.equals(got)

    cms_q = (
        streaming_cms_counters(stream_items, "item", ["g"], depth=3, width=64)
        .writeStream.format("memory").queryName("sgs_cms_cnt")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    cms_q.awaitTermination(300)
    got_c = spark.table("sgs_cms_cnt").orderBy("g", "row", "col").toPandas()
    want_c = (
        sk.cms_counters(batch_items, "item", ["g"], depth=3, width=64)
        .orderBy("g", "row", "col").toPandas()
    )
    assert want_c.equals(got_c)


def test_streaming_append_watermark_finalizes_windows(spark, tmp_path):
    """APPEND mode + watermark: windows are emitted exactly once when the
    watermark passes their end (state evicted), and every emitted window's
    quantile equals the batch computation — files staged in time order so
    no rows are late, isolating the finalization semantics."""
    n = 5000
    pdf = pd.DataFrame(
        {
            "g": RNG.choice(["x", "y"], n),
            "v": RNG.exponential(10, n),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), "s"),
        }
    ).sort_values("ts")
    d = tmp_path / "ordered"
    for sl in np.array_split(pdf, 4):
        spark.createDataFrame(sl).coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(0.05)  # distinct mtimes: the file source orders batches by them
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    bins = streaming_bins(
        stream, "v", ["g"], CFG, time_col="ts", window="20 minutes",
        watermark="5 minutes",
    )
    q = (
        bins.writeStream.format("memory")
        .queryName("sgs_append_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    res = spark.table("sgs_append_wm")
    emitted = dd.quantiles_from_bins(
        res.select(F.col("window.start").alias("w"), "g", "sign", "bucket", "count"),
        ["w", "g"], [0.5], CFG,
    ).toPandas().set_index(["w", "g"])["est"]
    windows_emitted = {w for w, _ in emitted.index}
    pdf2 = pdf.copy()
    pdf2["w"] = pdf2["ts"].dt.floor("20min")
    all_windows = set(pdf2["w"].unique())
    # some windows finalized, the tail (inside the watermark) withheld
    assert windows_emitted, "append mode emitted nothing"
    assert windows_emitted < all_windows, "watermark tail must be withheld"
    for (w, g), est in emitted.items():
        sub = pdf2[(pdf2["w"] == w) & (pdf2["g"] == g)]
        core = DDSketch.from_values(sub["v"].to_numpy(), config=CFG)
        assert est == pytest.approx(core.quantile(0.5), abs=1e-6), (w, g)


def test_stateful_blob_stream_tdigest(spark, stream_dir):
    """The generic blob-state operator with a second sketch type: t-digest
    per group in the state store; final emission quantiles track the batch
    t-digest of the same data within the published tail accuracy."""
    from pyspark.sql.window import Window

    from sketches_go_spark.core.tdigest import TDigest
    from sketches_go_spark.streaming.stream_agg import stateful_blob_stream

    d, pdf = stream_dir
    schema = spark.read.parquet(str(d / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(d / "data"))
    out = stateful_blob_stream(
        stream.select("g", "v"), "v", ["g"],
        make=lambda: TDigest(delta=200.0), decode_fn=TDigest.from_bytes,
        quantiles=(0.5, 0.99),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sgs_blob_td")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(d / "ckpt_td"))
        .start()
    )
    q.awaitTermination(120)
    w = Window.partitionBy("g").orderBy(F.col("n").desc())
    final = (
        spark.table("sgs_blob_td")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .collect()
    )
    got = {r["g"]: r for r in final}
    for g, sub in pdf.groupby("g"):
        vals = sub["v"].to_numpy()
        assert got[g]["n"] == pytest.approx(float(len(vals)))
        for qq, col in ((0.5, "p50"), (0.99, "p99")):
            exact = np.quantile(vals, qq)
            # t-digest mid/tail accuracy: generous 5% relative envelope
            assert abs(got[g][col] - exact) / max(exact, 1e-9) < 0.05, (g, col)
