"""Parquet loaders for the bronze layer.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown + column pruning (check ``PushedFilters`` / ``ReadSchema``
in plans). At 100 TB the same call points at an object-store prefix;
nothing here assumes local files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .registry import SOURCE_REGISTRY

TABLES = tuple(SOURCE_REGISTRY)

#: inferred parquet schema per (path, st_mtime_ns, st_size): inference
#: reads footers in a Spark job, once per ``spark.read.parquet`` call,
#: and a medallion pass loads the same seven files 29 times
_SCHEMAS: dict[tuple[str, int, int], T.StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in SOURCE_REGISTRY:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = _read_parquet(spark, table_path(sf_dir, name))
    # Normalize timestamp physical encodings to session-tz (UTC)
    # TIMESTAMP so downstream exprs (unix_micros, window ranges) see
    # one type regardless of how the parquet writer encoded time:
    #  - TIMESTAMP(NANOS) arrives as long (nanosAsLong conf); integer
    #    `div 1000` floors to micros — same floor DuckDB applies —
    #    without a double round-trip (ns epochs exceed 2^53).
    #  - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    #    TIMESTAMP_NTZ; with the session pinned UTC the cast is a
    #    zero-cost reinterpretation of the same micros value.
    expected = SOURCE_REGISTRY[name].columns
    for f in df.schema.fields:
        if expected.get(f.name) != "timestamp":
            continue
        kind = f.dataType.simpleString()
        if kind == "bigint":
            from pyspark.sql import functions as F  # noqa: PLC0415

            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(f"`{f.name}` div 1000")),
            )
        elif kind == "timestamp_ntz":
            df = df.withColumn(f.name, df[f.name].cast("timestamp"))
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only the
    first time it sees this version of the file; later reads pass the
    memoised schema. Paths ``os.stat`` cannot see (object stores)
    infer every time."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def scatter(df: DataFrame, min_parts: int | None = None,
            min_input_bytes: int = 0,
            bytes_per_task: int = 0) -> DataFrame:
    """Raise the partition count of a compute-dense input to the
    cluster's parallelism.

    Byte-based file splitting (``spark.sql.files.maxPartitionBytes``)
    under-partitions tables that are small on disk but expensive per
    row (regexp tokenization, per-row hashing, vector math): a 1 MB
    parquet arrives as ONE partition and the whole map stage runs on
    one core. The round-robin shuffle this adds is proportional to
    the (small) input, and it only fires when the scan yields fewer
    partitions than the session's parallelism — at 100 TB the file
    count already gives natural parallelism and this is a no-op.

    ``min_input_bytes`` (r16): call sites whose per-row work is CHEAP
    (JVM folds over small vectors, not Python decode) only repay the
    exchange + per-task scheduling once there is enough input to
    spread — below the floor the frame is returned untouched (the
    probe reads the scan's file sizes from the already-loaded file
    index, ~ms). The floor compares RAW INPUT bytes, so the decision
    is scale-adaptive, not tuned to any core count: tiny test inputs
    skip the exchange, production inputs sail past the floor (and are
    already wide, making scatter a no-op anyway).

    ``bytes_per_task`` (r17, guide §2.5 — right-size the exchange to
    the work): an unconditional jump to defaultParallelism
    over-splits SMALL inputs — at sf0.1 every media/text key ran
    FASTER on 8 cores than 32 in the r16 driver artifacts
    (multimodal_decoded 0.47 s vs 0.98 s, mpeg1 0.83 vs 3.22:
    per-task Arrow/scheduling overhead exceeded the decode saved).
    With a floor-per-task byte budget the width GROWS with the input
    instead: target = min(parallelism, ceil(input_bytes /
    bytes_per_task)). Data-driven, not core-count-driven: tiny inputs
    get a few tasks, production inputs clamp to full cluster
    parallelism (and arrive wide from the file count anyway, making
    scatter a no-op). Width 1 means the exchange is pure overhead, so
    the frame is returned untouched.
    """
    total = None
    if min_input_bytes or bytes_per_task:
        try:
            files = df.inputFiles()
        except Exception:
            files = []
        if files:
            total = 0
            for f in files:
                p = f.removeprefix("file://").removeprefix("file:")
                try:
                    total += os.path.getsize(p)
                except OSError:
                    total = None             # unknown size: don't gate
                    break
        if min_input_bytes and total is not None and total < min_input_bytes:
            return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_task and total is not None:
        width = -(-total // bytes_per_task)  # ceil
        if width <= 1:
            return df
        target = min(target, width)
    # The getNumPartitions probe costs one driver-side plan conversion
    # (~ms) but is load-bearing: it makes scatter a guaranteed no-op on
    # already-wide inputs. An unconditional repartition(n) would add a
    # full round-robin shuffle at 100 TB (explicit repartition is not
    # AQE-coalescible), and a conf floor (files.minPartitionNum) cannot
    # split single-row-group small files, which are the whole reason
    # scatter exists.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Shared per-task input budget for JVM text/hash map stages over the
# documents table (tokenize/regex rule gates, shingle+md5 signature
# stages): ~10 tasks at sf0.1 (594 KiB), full parallelism from
# ~2 MiB of input up (guide §2.5 — right-size the exchange; the r16
# full-width exchange made every text key slower at 32 cores than 8
# at this input size: driver rows text_lm_quality 0.54 s vs 1.28,
# text_gopher_rules 0.31 vs 0.77). Media sites carry their own
# per-row-cost-graded budgets in operators/multimodal.py.
DOC_SCATTER_BPT = 64 << 10


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def write_bucketed(
    df: DataFrame, path: str, table: str, bucket_col: str, n_buckets: int = 64
) -> None:
    """Bucketing writer for co-located joins at scale (SURVEY §6):
    landing tables written bucketed by their join key let repeated
    fact-fact joins skip the shuffle entirely."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )
