"""Checkpointed, resumable sketch jobs with per-partition lineage + metrics.

The unit of recovery is a deterministic content-hash slice of the input
(``slice = portable_hash(key cols) % n_slices`` — stable across runs and
independent of physical partitioning).  Each slice's partial sketches are
written as an encoded-blob parquet directory plus a manifest line
(JSON: slice id, rows, groups, bytes, wall time, attempt).  Resume skips
slices already in the manifest and decode-and-merges the rest — the same
"decode is merge" shape as the reference's streaming decoder
(/root/reference/ddsketch/ddsketch.go:400-475).

This is the batch twin of a streaming checkpoint: a 100-TB job sliced into
256 recoverable units loses at most 1/256 of its work to a failure, and the
manifest doubles as the per-task lineage/metrics record the north rule
requires."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig
from sketches_go_spark.functions.ddsketch_fns import (
    ddsketch_agg,
    ddsketch_merge,
    with_quantiles,
)
from sketches_go_spark.functions.expressions import portable_hash64


@dataclass
class SliceRecord:
    slice_id: int
    n_groups: int
    bytes_written: int
    wall_sec: float
    attempt: int
    finished_at: float


class CheckpointedSketchJob:
    """Resumable per-group DDSketch aggregation.

    >>> job = CheckpointedSketchJob("/ckpt/dir", keys=["role"], n_slices=16)
    >>> job.run(df, "v")          # computes missing slices, writes manifest
    >>> result = job.result(spark)  # merged sketches (decode-and-merge)
    """

    def __init__(
        self,
        job_dir: str,
        keys: Sequence[str],
        n_slices: int = 16,
        config: DDSketchConfig | None = None,
        slices_per_batch: int = 4,
    ):
        self.job_dir = job_dir
        self.keys = list(keys)
        self.n_slices = n_slices
        self.config = config or DDSketchConfig()
        self.slices_per_batch = slices_per_batch
        os.makedirs(job_dir, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.job_dir, "manifest.jsonl")

    def completed_slices(self) -> dict[int, dict]:
        done: dict[int, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for line in f:
                    rec = json.loads(line)
                    done[rec["slice_id"]] = rec
        return done

    def _slice_col(self):
        h = portable_hash64(F.concat_ws("\x1f", *[F.col(k) for k in self.keys]))
        return F.pmod(h, F.lit(self.n_slices))

    def _slice_dir(self, s: int) -> str:
        # no '=' in the name: the committed dirs must never be mistaken for
        # hive-style partitions when read back as a multi-path parquet scan
        return os.path.join(self.job_dir, f"slice-{s}")

    @staticmethod
    def _dir_stats(sdir: str) -> tuple[int, int]:
        """(rows, bytes) from parquet footers — local metadata only, no scan."""
        import pyarrow.parquet as pq

        rows = 0
        size = 0
        for name in os.listdir(sdir):
            path = os.path.join(sdir, name)
            if name.endswith(".parquet") and os.path.isfile(path):
                rows += pq.ParquetFile(path).metadata.num_rows
                size += os.path.getsize(path)
        return rows, size

    def run(self, df: DataFrame, value_col: str, fail_after_slices: int | None = None):
        """Compute partial sketches for every slice not yet in the manifest.

        All sketch I/O is executor-side: each chunk's partials are written by
        the executors as a parquet directory partitioned by ``_slice``; the
        driver only renames the per-slice directory into place and appends the
        manifest line (the commit point).  Nothing but footer metadata ever
        crosses the driver — per-conv_id granularity (millions of groups)
        checkpoints without driver memory pressure.

        ``fail_after_slices`` injects a crash after N slices (test hook for
        the resume path)."""
        import shutil

        done = self.completed_slices()
        missing = [s for s in range(self.n_slices) if s not in done]
        sliced = df.withColumn("_slice", self._slice_col())
        processed = 0
        staging = os.path.join(self.job_dir, "_staging")
        for i in range(0, len(missing), self.slices_per_batch):
            chunk = missing[i : i + self.slices_per_batch]
            t0 = time.perf_counter()
            part = sliced.where(F.col("_slice").isin([int(s) for s in chunk]))
            out = ddsketch_agg(part, value_col, [*self.keys, "_slice"], self.config)
            # executor-side write; partitionBy splits the chunk per slice
            out.write.mode("overwrite").partitionBy("_slice").parquet(staging)
            wall = time.perf_counter() - t0
            for s in chunk:
                src = os.path.join(staging, f"_slice={int(s)}")
                sdir = self._slice_dir(int(s))
                n_groups = 0
                bytes_written = 0
                if os.path.isdir(src):
                    if os.path.isdir(sdir):
                        shutil.rmtree(sdir)  # uncommitted leftover from a crash
                    os.replace(src, sdir)
                    n_groups, bytes_written = self._dir_stats(sdir)
                rec = SliceRecord(
                    slice_id=int(s),
                    n_groups=n_groups,
                    bytes_written=bytes_written,
                    wall_sec=round(wall / len(chunk), 4),
                    attempt=1,
                    finished_at=time.time(),
                )
                # manifest append is the commit point for the slice
                with open(self.manifest_path, "a") as f:
                    f.write(json.dumps(rec.__dict__) + "\n")
                processed += 1
                if fail_after_slices is not None and processed >= fail_after_slices:
                    raise RuntimeError(
                        f"injected failure after {processed} slices"
                    )
            shutil.rmtree(staging, ignore_errors=True)
        return self

    def result(self, spark: SparkSession) -> DataFrame:
        """Merged per-group sketches from all checkpointed slices
        (decode-and-merge; resume-safe: requires a complete manifest).
        The partials are read back as a distributed parquet scan — the
        driver never materializes sketch blobs."""
        done = self.completed_slices()
        if len(done) < self.n_slices:
            missing = sorted(set(range(self.n_slices)) - set(done))
            raise RuntimeError(f"job incomplete; missing slices {missing}")
        paths = [
            self._slice_dir(s) for s in sorted(done)
            if os.path.isdir(self._slice_dir(s))
        ]
        if not paths:
            raise RuntimeError("job complete but every slice is empty")
        partials = spark.read.parquet(*paths)
        return ddsketch_merge(partials, self.keys, self.config)

    def quantiles(self, spark: SparkSession, qs: Sequence[float]) -> DataFrame:
        return with_quantiles(self.result(spark), qs)

    def metrics(self) -> pd.DataFrame:
        """The lineage/metrics table (one row per completed slice)."""
        return pd.DataFrame(list(self.completed_slices().values()))
