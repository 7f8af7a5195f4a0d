"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` aggregate the per-module QUERIES /
ORACLES registries from ``university_data_lakehouse_spark.operators``.
Every key in SURVEY.md §2 maps to one entry here; oracle-less keys
(approximate / streaming ops) get the driver's rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from university_data_lakehouse_spark.session import tune_existing


def _registries():
    """Collect (QUERIES, ORACLES) from every operator module, in
    module order."""
    from university_data_lakehouse_spark.operators import (  # noqa: PLC0415
        pipeline,
    )

    modules = [pipeline]
    for name in ("multimodal", "silver", "gold", "similarity", "olap",
                 "events", "dedup", "quality", "text"):
        try:
            mod = __import__(
                f"university_data_lakehouse_spark.operators.{name}",
                fromlist=[name],
            )
            modules.append(mod)
        except ImportError:
            continue
    queries: dict[str, Callable] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        queries.update(getattr(mod, "QUERIES", {}))
        oracles.update(getattr(mod, "ORACLES", {}))
    return queries, oracles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tune_existing(spark)
    qs, _ = _registries()
    flagship = qs.get("gold_order_metrics", qs["silver_dim_customers"])
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs, _ = _registries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_existing(spark)
            return fn(spark, sf_dir)

        return run

    return {k: wrap(fn) for k, fn in qs.items()}


def oracle_sql() -> dict[str, str]:
    _, oracles = _registries()
    return dict(oracles)
