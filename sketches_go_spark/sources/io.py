"""Generic transcript sources and sketch sinks.

The engine's primary input is the parquet/Iceberg transcripts table
(sources.transcripts / plans.session.read_table), but ingestion pipelines
also land transcripts as CSV / JSON lines / ORC.  These readers enforce the
input_hint schema EXPLICITLY — schema inference over 100 TB of text files is
both a full extra scan and a correctness hazard (a single odd row flips a
column type), so it is never used here.

Sketch sinks: an encoded-sketch DataFrame (keys..., sketch:binary) is just a
tiny relation — persist it as parquet (binary columns round-trip exactly) and
read it back into every downstream operator (with_quantiles, rollups via
sketch_to_bins, proto conversion).  This is the "sketch warehouse" pattern:
the 100 TB scan happens once; consumers query the blobs.
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: input_hint schema (BASELINE.json): the cross-format contract.
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)

_TEXT_FORMATS = {"csv", "json"}
_FORMATS = _TEXT_FORMATS | {"parquet", "orc"}


def read_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a transcripts table in any supported landing format with the
    enforced input_hint schema (never inferred).  Binary formats are
    projected/cast onto the contract columns so a wider table still reads."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported transcript format {fmt!r}")
    if fmt == "csv":
        # text timestamps parse via the explicit schema; header required so
        # column order in the files is not load-bearing; multiLine + RFC-4180
        # quote-escaping so transcript text containing newlines/quotes/commas
        # round-trips losslessly
        return (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .csv(path)
        )
    if fmt == "json":
        return spark.read.schema(TRANSCRIPT_SCHEMA).json(path)
    df = spark.read.format(fmt).load(path)
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name) for f in TRANSCRIPT_SCHEMA
    ]
    return df.select(*cols)


def write_transcripts(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Write the transcript shape out in any supported format (CSV gets a
    header + explicit timestamp format so read_transcripts round-trips)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported transcript format {fmt!r}")
    out = df.select(*[f.name for f in TRANSCRIPT_SCHEMA])
    w = out.write.mode(mode)
    if fmt == "csv":
        w = w.option("header", "true").option("escape", '"').option(
            "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
        )
    w.format(fmt).save(path)


def write_sketches(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist an encoded-sketch relation (keys..., sketch:binary) as
    parquet.  Binary columns round-trip byte-exactly; partitioning by a key
    prefix gives partition-pruned point lookups on the sketch warehouse."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_sketches(spark: SparkSession, path: str) -> DataFrame:
    """Read a persisted sketch relation back (decode-ready blobs).

    The schema is the one Spark's parquet writer stored in the footer of
    the store's first top-level ``part-*`` file, read on the driver;
    schema inference would launch a Spark job per read just to read that
    footer.  Inference stays the fallback where there is no such
    file or key (partitioned stores, parquet written by another engine)."""
    schema = _stored_spark_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


#: footer key under which Spark's parquet writer stores the row schema JSON
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _stored_spark_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema in the footer of the first top-level ``part-*``
    file under ``path``, or None if there is no such file or key."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    parts = root.getFileSystem(conf).globStatus(
        jvm.org.apache.hadoop.fs.Path(root, "part-*")
    )
    files = sorted(s.getPath().toString() for s in parts or () if s.isFile())
    if not files:
        return None
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(files[0]), conf
        )
    )
    try:
        stored = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(
            _SPARK_SCHEMA_KEY
        )
    finally:
        reader.close()
    return None if stored is None else StructType.fromJson(json.loads(stored))


#: schema of one assembled-example JSONL line
#: (operators/assemble.py::sft_jsonl) — explicit for the same reason as
#: TRANSCRIPT_SCHEMA: never infer over a 100-TB export.
SFT_EXAMPLE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", IntegerType(), False),
        StructField("n_tool_turns", LongType(), False),
        StructField("duration_us", LongType(), False),
        StructField("sft_chars", IntegerType(), False),
        StructField("sft_text", StringType(), False),
    ]
)


def write_sft_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write :func:`~sketches_go_spark.operators.assemble.sft_jsonl` output
    (``line`` column) as plain text — one JSON object per line, one file per
    partition, no shuffle beyond the plan that produced it.  This is the
    handoff artifact a training loader consumes."""
    df.select("line").write.mode(mode).text(path)


def read_sft_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Load an SFT JSONL export back into the assembled-example shape with
    the explicit schema (malformed lines fail loudly under the default
    PERMISSIVE->null, which the loader should treat as corruption)."""
    return spark.read.schema(SFT_EXAMPLE_SCHEMA).json(path)
