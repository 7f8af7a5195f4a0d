"""Materialization run history as a managed table.

Reference parity: Dagster's run records — every asset materialization
(status, row count, per-check outcomes, duration, timestamp) lands in an
append-only ``meta/run_history`` managed table, so operators answer
"when did this asset last publish, and why did Tuesday's run skip
gold?" with a table query instead of log spelunking. The history
table uses the same commit protocol as the data it describes, so it
is itself time-travelable and vacuumable.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import SparkSession

from ..tables import TableCatalog

HISTORY_TABLE = "meta/run_history"


def record_run(
    spark: SparkSession,
    catalog: TableCatalog,
    results: dict,
    run_id: str,
    ts: dt.datetime | None = None,
) -> int:
    """Append one row per asset result of a materialize() call.
    ``ts`` defaults to now (UTC); pass it explicitly for deterministic
    tests. Returns the committed history version."""
    ts = ts or dt.datetime.now(tz=dt.timezone.utc)
    rows = [
        {
            "run_id": run_id,
            "asset_key": r.key,
            "status": r.status,
            "rows": r.rows,
            "checks_json": json.dumps(r.checks, sort_keys=True),
            "expectations_json": json.dumps(
                getattr(r, "expectations", {}), sort_keys=True),
            "error": r.error,
            "ts": ts.replace(tzinfo=None),
            "duration_s": r.duration_s,
        }
        for r in results.values()
    ]
    df = spark.createDataFrame(
        rows,
        "run_id string, asset_key string, status string, rows long, "
        "checks_json string, expectations_json string, error string, "
        "ts timestamp, duration_s double",
    )
    table = catalog.table(HISTORY_TABLE)
    if not table.exists():
        return table.write(df, operation="bootstrap")
    # evolve: history tables created before expectation tracking or
    # per-asset durations null-fill the new columns instead of
    # refusing the append
    return table.write(df, mode="append", evolve=True)


def volume_anomaly(
    spark: SparkSession,
    catalog: TableCatalog,
    tolerance: float = 0.5,
    min_history: int = 3,
):
    """Deequ-style volume anomaly detection over the run history: per
    asset, compare the LATEST successful run's row count against the
    trailing mean of its prior successful runs and flag deviations
    beyond ``tolerance`` (fractional). Assets with fewer than
    ``min_history`` prior runs never flag — a new asset has no
    baseline. One window + one aggregate over the (tiny,
    runs×assets-sized) history table; the check reads METRICS, never
    the data, so it costs the same at any corpus scale."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    hist = (
        catalog.table(HISTORY_TABLE).read(spark)
        .where((F.col("status") == "ok") & F.col("rows").isNotNull())
    )
    w = Window.partitionBy("asset_key").orderBy(
        F.col("ts").desc(), F.col("run_id").desc())
    ranked = hist.withColumn("rn", F.row_number().over(w))
    latest = ranked.where(F.col("rn") == 1).select(
        "asset_key", F.col("rows").alias("latest_rows"), "run_id", "ts")
    prior = ranked.where(F.col("rn") > 1).groupBy("asset_key").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.avg("rows").alias("mean_rows"),
    )
    # mean_rows == 0 (asset historically wrote nothing): any nonzero
    # latest run is an infinite relative jump — flag it outright
    # instead of NULLing the deviation (which used to coalesce to 0.0
    # and pass silently)
    deviation = F.when(
        F.col("mean_rows") > 0,
        F.abs(F.col("latest_rows") - F.col("mean_rows"))
        / F.col("mean_rows"),
    ).when(
        (F.col("mean_rows") == 0) & (F.col("latest_rows") > 0),
        F.lit(float("inf")),
    )
    return (
        latest.join(prior, "asset_key", "left")
        .select(
            "asset_key", "latest_rows", "run_id", "ts",
            F.coalesce("n_prior", F.lit(0)).alias("n_prior"),
            "mean_rows",
            deviation.alias("deviation"),
            (
                (F.coalesce("n_prior", F.lit(0)) >= min_history)
                & (F.coalesce(deviation, F.lit(0.0)) > tolerance)
            ).alias("is_anomaly"),
        )
    )


def latest_status(spark: SparkSession, catalog: TableCatalog):
    """Most recent status per asset — the operator dashboard query
    (one window over the history table)."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql import functions as F  # noqa: PLC0415

    hist = catalog.table(HISTORY_TABLE).read(spark)
    w = Window.partitionBy("asset_key").orderBy(
        F.col("ts").desc(), F.col("run_id").desc())
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("asset_key", "status", "rows", "ts", "run_id")
    )
