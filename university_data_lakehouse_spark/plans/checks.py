"""Reusable asset checks for the asset graph.

Reference parity: the check factories in
``trino_iceberg_transform_component.py:192-206`` (not_null_pk,
no_duplicates, row_count, referential_integrity, value_range), the
bronze freshness checks (``s3_data_landing_component.py:165-196``)
and the gold completeness checks
(``gold_analytics_component.py:165-196``, non-null ratio per column).

Every built-in factory except ``referential_integrity`` returns an
:class:`AggCheck` — a list of aggregate columns plus a verdict over
their values and the asset's row count. :func:`evaluate_checks` fuses
the columns of ALL of an asset's specs into ONE ``agg()`` over the
audited frame, so an asset pays one Spark job for its checks however
many it declares (``row_count`` needs no column at all). The asset
graph runs it in the write–audit–publish order
(:meth:`AssetGraph.materialize`): the asset is staged as table files,
audited — row count from the staged files' parquet footers, every
spec from one aggregate over the staged files — and then published or
abandoned. Without a catalog the same function reads the cached frame
and takes the row count from a ``count(1)`` in the same aggregate.

A spec is still callable as ``check(df) -> (passed, metadata)``: it
evaluates itself alone through the same function. Plain callables of
that shape (``referential_integrity``, a join; custom checks) run on
the audited frame after the fused aggregate. Specs are recognized by
their ``aggs``/``verdict`` attributes, so a ``functools.wraps``
wrapper around one still fuses.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Check = Callable[[DataFrame], tuple[bool, dict]]


@dataclass(frozen=True)
class AggCheck:
    """A check as aggregate columns plus a verdict. ``aggs`` builds the
    columns lazily (a Column needs a live session; graphs are often
    declared before one exists); ``verdict`` maps their values and the
    row count to ``(passed, metadata)``."""

    aggs: Callable[[], list[Column]]
    verdict: Callable[[list, int], tuple[bool, dict]]

    def __call__(self, df: DataFrame) -> tuple[bool, dict]:
        return evaluate_checks(df, [("check", self)])[1]["check"]


def evaluate_checks(
    df: DataFrame,
    checks: Iterable[tuple[str, Check]],
    rows: int | None = None,
) -> tuple[int, dict[str, tuple[bool, dict]]]:
    """Run ``checks`` over ``df``: every spec's columns in ONE
    aggregate, then each plain callable on ``df``. ``rows`` is the
    frame's known row count (staged files' footers); when None, a
    ``count(1)`` rides in the same aggregate. Returns (rows,
    {name: (passed, metadata)}) in declaration order."""
    checks = list(checks)
    cols: list[Column] = []
    slots: dict[int, tuple[int, int]] = {}
    for i, (_, check) in enumerate(checks):
        if hasattr(check, "aggs") and hasattr(check, "verdict"):
            aggs = check.aggs()
            slots[i] = (len(cols), len(cols) + len(aggs))
            cols += [c.alias(f"_c{len(cols) + j}") for j, c in enumerate(aggs)]
    if rows is None:
        cols.append(F.count(F.lit(1)).alias("_rows"))
    values = list(df.agg(*cols).collect()[0]) if cols else []
    if rows is None:
        rows = values.pop()
    out = {}
    for i, (name, check) in enumerate(checks):
        if i in slots:
            lo, hi = slots[i]
            out[name] = check.verdict(values[lo:hi], rows)
        else:
            out[name] = check(df)
    return rows, out


def _violations(bad: Column) -> Column:
    """Rows for which ``bad`` is TRUE (NULL counts as no violation,
    as ``where(bad).count()`` would)."""
    return F.count(F.when(bad, 1))


def not_null_pk(*pk_cols: str) -> AggCheck:
    def aggs():
        cond = None
        for c in pk_cols:
            expr = F.col(c).isNull()
            cond = expr if cond is None else (cond | expr)
        return [_violations(cond)]

    def verdict(v, _rows):
        return v[0] == 0, {"null_pk_rows": v[0]}
    return AggCheck(aggs, verdict)


def no_duplicates(*key_cols: str) -> AggCheck:
    def aggs():
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        return [F.countDistinct(key)]

    def verdict(v, rows):
        dups = rows - v[0]
        return dups == 0, {"duplicates": dups}
    return AggCheck(aggs, verdict)


def accepted_values(col: str, values: list, allow_null: bool = False) -> AggCheck:
    """Enum-domain gate: every value of ``col`` must be one of
    ``values`` (nulls violate unless ``allow_null``). One aggregate
    column — the dbt-style accepted_values test the reference's
    value_range cannot express for categoricals."""
    def aggs():
        ok = F.col(col).isin(values)
        if allow_null:
            ok = ok | F.col(col).isNull()
        return [_violations(~F.coalesce(ok, F.lit(False)))]

    def verdict(v, _rows):
        return v[0] == 0, {"unaccepted_rows": v[0], "accepted": list(values)}
    return AggCheck(aggs, verdict)


def row_count(min_rows: int = 1) -> AggCheck:
    def verdict(_v, rows):
        return rows >= min_rows, {"rows": rows, "min_rows": min_rows}
    return AggCheck(lambda: [], verdict)


def referential_integrity(fk_col: str, parent: DataFrame, parent_col: str) -> Check:
    def run(df: DataFrame) -> tuple[bool, dict]:
        pcol = f"__parent_{parent_col}"
        orphans = (
            df.select(fk_col)
            .where(F.col(fk_col).isNotNull())
            .join(parent.select(F.col(parent_col).alias(pcol)),
                  F.col(fk_col) == F.col(pcol), "left_anti")
            .count()
        )
        return orphans == 0, {"orphans": orphans}
    return run


def value_range(col: str, lo: float, hi: float) -> AggCheck:
    def aggs():
        c = F.col(col)
        return [_violations(c.isNotNull() & ((c < lo) | (c > hi)))]

    def verdict(v, _rows):
        return v[0] == 0, {"out_of_range": v[0], "bounds": (lo, hi)}
    return AggCheck(aggs, verdict)


def completeness(col: str, min_ratio: float = 0.95) -> AggCheck:
    """Gold completeness (gold_analytics_component.py:165): non-null
    ratio per column must meet the threshold."""
    def verdict(v, rows):
        ratio = (v[0] / rows) if rows else 1.0
        return ratio >= min_ratio, {"non_null_ratio": ratio}
    return AggCheck(lambda: [F.count(col)], verdict)


def freshness(ts_col: str, max_age_hours: float, now: dt.datetime | None = None) -> AggCheck:
    """Bronze freshness (s3_data_landing_component.py:165): newest
    row must be younger than the SLA."""
    def verdict(v, _rows):
        latest = v[0]
        if latest is None:
            return False, {"reason": "empty"}
        ref = now or dt.datetime.now()
        age = (ref - latest).total_seconds() / 3600.0
        return age <= max_age_hours, {"age_hours": age}
    return AggCheck(lambda: [F.max(ts_col)], verdict)
