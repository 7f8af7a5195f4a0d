"""Multi-source bronze landing tests (VERDICT r1 item 6): two source
systems with independent cursors and per-source freshness SLAs,
mirroring the reference's per-source sensors
(s3_data_landing_component.py:198-269)."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from university_data_lakehouse_spark.sources.systems import (
    SOURCE_SYSTEMS,
    BronzeLanding,
)


@pytest.fixture()
def landing(spark, tmp_path):
    return BronzeLanding(
        spark,
        landing_root=str(tmp_path / "landing"),
        bronze_root=str(tmp_path / "bronze"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )


def _drop(landing: BronzeLanding, sf_dir: str, source: str, table: str,
          name: str) -> None:
    d = landing.landing_dir(source, table)
    os.makedirs(d, exist_ok=True)
    shutil.copy(os.path.join(sf_dir, f"{table}.parquet"),
                os.path.join(d, name))


def test_registry_covers_all_tables():
    covered = {t for s in SOURCE_SYSTEMS.values() for t in s.tables}
    from university_data_lakehouse_spark.sources.registry import SOURCE_REGISTRY
    assert covered == set(SOURCE_REGISTRY)
    # per-source SLAs are genuinely per-source
    slas = {s.freshness_sla_hours for s in SOURCE_SYSTEMS.values()}
    assert len(slas) > 1


def test_independent_cursors_across_sources(spark, sf_dir, landing):
    _drop(landing, sf_dir, "erp", "orders", "data_001.parquet")
    _drop(landing, sf_dir, "crm", "events", "data_001.parquet")

    n_orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

    got_erp = landing.tick("erp")
    got_crm = landing.tick("crm")
    assert got_erp["orders"] == n_orders
    assert got_crm["events"] == n_events

    # new file lands for erp only -> only erp's cursor advances over it
    _drop(landing, sf_dir, "erp", "orders", "data_002.parquet")
    assert landing.tick("erp")["orders"] == n_orders   # just the new file
    assert landing.tick("crm")["events"] == 0          # nothing new
    # re-tick is a no-op (cursor, not re-read)
    assert landing.tick("erp")["orders"] == 0

    bronze_orders = spark.read.parquet(landing.bronze_dir("erp", "orders"))
    assert bronze_orders.count() == 2 * n_orders
    assert "_ingested_at" in bronze_orders.columns
    assert "_source_file" in bronze_orders.columns


def test_per_source_freshness_sla(spark, sf_dir, landing):
    _drop(landing, sf_dir, "crm", "events", "data_001.parquet")
    landing.tick("crm")

    fresh = landing.freshness("crm")
    assert fresh["events"]["passed"], fresh
    assert fresh["events"]["sla_hours"] == SOURCE_SYSTEMS["crm"].freshness_sla_hours

    # same table, evaluated long after ingest: CRM's 1 h SLA trips
    later = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(hours=2)
    stale = landing.freshness("crm", now=later)
    assert not stale["events"]["passed"]

    # a source that never landed reports failure, not absence
    fresh_ops = landing.freshness("ops")
    assert all(not r["passed"] for r in fresh_ops.values())
    assert fresh_ops["region"]["reason"] == "never ingested"


def test_csv_and_json_landing_formats(spark, sf_dir, tmp_path):
    """Per-source file_format is honored end to end: a CSV source and
    a JSON source tick through the same sensor path as parquet, with
    header handling + schema inference at the probe and the identical
    checkpoint-cursor semantics."""
    from university_data_lakehouse_spark.sources.systems import SourceSystem

    systems = {
        "legacy_csv": SourceSystem(
            "legacy_csv", "CSV extract drop", "legacy_csv/", ("orders",),
            file_format="csv"),
        "api_json": SourceSystem(
            "api_json", "JSON API dump", "api_json/", ("orders",),
            file_format="json"),
    }
    landing = BronzeLanding(
        spark,
        landing_root=str(tmp_path / "landing"),
        bronze_root=str(tmp_path / "bronze"),
        checkpoint_root=str(tmp_path / "ckpt"),
        systems=systems,
    )
    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(40)
    n = src.count()

    d = landing.landing_dir("legacy_csv", "orders")
    src.coalesce(1).write.option("header", True).mode("overwrite").csv(d)
    assert landing.tick("legacy_csv")["orders"] == n
    bronze = spark.read.parquet(landing.bronze_dir("legacy_csv", "orders"))
    assert bronze.count() == n
    assert {r[0] for r in bronze.select("o_orderkey").collect()} == {
        r[0] for r in src.select("o_orderkey").collect()}

    d = landing.landing_dir("api_json", "orders")
    src.coalesce(1).write.mode("overwrite").json(d)
    assert landing.tick("api_json")["orders"] == n
    # cursor semantics hold for the text formats too: re-tick is a no-op
    assert landing.tick("api_json")["orders"] == 0


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    """load_table infers a file's schema once per (path, mtime, size):
    a repeat load runs no Spark job, and a rewritten file is inferred
    anew."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from university_data_lakehouse_spark.sources.loader import load_table

    path = tmp_path / "region.parquet"

    def write(key_type):
        pq.write_table(pa.table({
            "r_regionkey": pa.array([0, 1], type=key_type),
            "r_name": ["AFRICA", "AMERICA"], "r_comment": ["a", "b"],
        }), path)

    write(pa.int64())
    first = load_table(spark, str(tmp_path), "region")
    sc = spark.sparkContext
    sc.setJobGroup("load-table-memo", "load-table-memo")
    try:
        again = load_table(spark, str(tmp_path), "region")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("load-table-memo") == []
    assert again.schema == first.schema and again.count() == 2

    write(pa.int32())
    os.utime(path, ns=(1, 1))        # a new file version whatever the clock
    rewritten = load_table(spark, str(tmp_path), "region")
    assert rewritten.schema["r_regionkey"].dataType == T.IntegerType()
    assert rewritten.count() == 2
