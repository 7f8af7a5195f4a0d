"""Declarative asset graph with dependency-driven concurrent execution
and quality-check gating.

Reference parity: Dagster's asset graph as wired by the three
components (``s3_data_landing_component.py`` bronze assets,
``trino_iceberg_transform_component.py:116`` silver CTAS assets with
``data_quality_checks`` lists, ``gold_analytics_component.py:128``
gold models). Here an Asset is a named Spark transform with declared
deps, group, tags, and blocking checks; the graph materializes each
asset as soon as its upstreams have succeeded, independent assets at
the same time (Dagster's default multiprocess executor runs
independent steps concurrently too), with per-asset results in
toposort order, and a failed blocking check halts downstream
materialization (the reference's ``blocking=True`` check semantics).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..tables.format import check_passes, count_violations
from .checks import evaluate_checks


@dataclass(frozen=True)
class Asset:
    key: str                              # e.g. "silver/dim_customers"
    fn: Callable[..., DataFrame]          # (spark, sf_dir, **dep DFs) → DF
    deps: tuple[str, ...] = ()
    group: str = "default"
    tags: dict[str, str] = field(default_factory=dict)
    kind: str = "spark"
    # checks: name → fn(DataFrame) → (passed: bool, metadata: dict)
    checks: tuple[tuple[str, Callable[[DataFrame], tuple[bool, dict]]], ...] = ()
    # expectations: DLT-style ROW-LEVEL quality policies, applied
    # before checks: (name, SQL predicate, action). Like their public
    # Delta Live Tables namesakes — "warn" records the violation
    # count and publishes everything, "drop" filters violating rows
    # out of what is published, "fail" blocks the asset (and its
    # downstream) when any row violates. NULL predicates pass (same
    # SQL-standard rule as table CHECK constraints). All violation
    # counts come from ONE aggregate pass regardless of how many
    # expectations an asset declares.
    expectations: tuple[tuple[str, str, str], ...] = ()


@dataclass
class AssetResult:
    key: str
    status: str                           # ok | check_failed | skipped | error
    rows: int | None = None
    checks: dict[str, bool] = field(default_factory=dict)
    error: str | None = None
    # expectation name → violating-row count (pre-drop)
    expectations: dict[str, int] = field(default_factory=dict)
    # check name → the metadata dict the check returned alongside its
    # verdict (r16): the reference attaches the same per-check
    # metadata to asset materializations (Dagster check results);
    # before this the dicts every plans/checks.py factory already
    # built were discarded at the orchestrator boundary
    check_meta: dict[str, dict] = field(default_factory=dict)
    # wall seconds from the asset's submission to its result; None
    # for an asset that was skipped (never submitted)
    duration_s: float | None = None


class AssetGraph:
    def __init__(self, assets: Iterable[Asset]):
        self.assets = {a.key: a for a in assets}
        for a in self.assets.values():
            missing = [d for d in a.deps if d not in self.assets]
            if missing:
                raise ValueError(f"{a.key}: unknown deps {missing}")

    def toposort(self, keys: Iterable[str] | None = None) -> list[str]:
        """Deterministic Kahn toposort (lexicographic among ready
        nodes) over the closure of `keys` plus their upstreams."""
        wanted = set(self.assets if keys is None else keys)
        # include upstream closure
        frontier = list(wanted)
        while frontier:
            k = frontier.pop()
            for d in self.assets[k].deps:
                if d not in wanted:
                    wanted.add(d)
                    frontier.append(d)
        indeg = {k: sum(d in wanted for d in self.assets[k].deps) for k in wanted}
        ready = sorted(k for k, n in indeg.items() if n == 0)
        out: list[str] = []
        while ready:
            k = ready.pop(0)
            out.append(k)
            for other in sorted(wanted):
                if k in self.assets[other].deps:
                    indeg[other] -= 1
                    if indeg[other] == 0:
                        ready.append(other)
            ready.sort()
        if len(out) != len(wanted):
            cyc = sorted(wanted - set(out))
            raise ValueError(f"cycle among {cyc}")
        return out

    def downstream_of(self, key: str) -> set[str]:
        out, frontier = set(), [key]
        while frontier:
            k = frontier.pop()
            for other, a in self.assets.items():
                if k in a.deps and other not in out:
                    out.add(other)
                    frontier.append(other)
        return out

    def materialize(
        self,
        spark: SparkSession,
        sf_dir: str,
        keys: Iterable[str] | None = None,
        catalog=None,
        lineage_send=None,
    ) -> dict[str, AssetResult]:
        """Materialize ``keys`` (default: every asset) and their
        upstreams. An asset starts as soon as all of its upstreams
        have finished ``ok``, so independent assets run at the same
        time, on up to ``defaultParallelism`` driver threads; a
        failed asset or blocking check skips only its downstream
        (reference blocking semantics). Results come back in toposort
        order.

        With a ``catalog`` (tables.TableCatalog) every asset goes
        through write–audit–publish, the engine's twin of the
        reference's per-asset Iceberg CTAS gated by blocking checks
        (``trino_iceberg_transform_component.py:116-129, 192-206``):

        1. stage — the asset frame (after expectations) is written
           straight to uniquely named table files, invisible to
           readers: the asset's one Spark execution, no cache and no
           count;
        2. audit — the row count comes from the staged files' parquet
           footers, and every check spec of ``plans/checks.py`` is
           answered by ONE aggregate over the staged files (none at
           all for ``row_count``); plain callable checks then run on
           the same staged read, i.e. on exactly the rows a commit
           would publish;
        3. publish or abandon — passing assets commit a new table
           version; a failed check deletes the staged files, so the
           published table keeps its last good version.

        Each asset commits its own table through its own atomic log
        commit, so assets that run at the same time need no ordering
        beyond their declared deps. Downstream assets receive the
        read of the published files. Without a catalog each asset
        frame is cached and the same check evaluation (with a
        ``count(1)`` fused into its aggregate) runs once over the
        cache; the caches are released when the run ends.

        With a ``lineage_send`` callable ``(path, payload) -> None``,
        each successfully-materialized asset's dependency edges are
        pushed in the catalog PUT shape after the run — the engine's
        twin of the reference registering OpenMetadata lineage at
        materialization time (``gold_analytics_component.py:288``).
        Edges into skipped/failed assets are NOT pushed."""
        order = self.toposort(keys)
        materialized: dict[str, DataFrame] = {}
        try:
            results = self._run(spark, sf_dir, order, materialized, catalog)
        finally:
            # release the per-run caches: leaked InMemoryRelations
            # would otherwise shadow parquet scans (and their filter
            # pushdown) for every later query in the session
            for df in materialized.values():
                df.unpersist()
        if lineage_send is not None:
            from .lineage import (  # noqa: PLC0415 — avoid import cycle
                LINEAGE_PATH,
                catalog_lineage_payloads,
            )

            ok = {k.replace("/", ".") for k, r in results.items()
                  if r.status == "ok"}
            for p in catalog_lineage_payloads(self):
                if p["edge"]["toEntity"]["fqn"] in ok:
                    lineage_send(LINEAGE_PATH, p)
        return results

    def _run(self, spark, sf_dir, order, materialized, catalog
             ) -> dict[str, AssetResult]:
        """The scheduler: submit every waiting asset whose upstreams
        are all ``ok``, mark every asset downstream of a failure
        skipped, and collect results as assets finish. Only the
        calling thread touches ``results``, ``materialized`` and
        ``blocked``. Each task is wrapped in its own
        ``inheritable_thread_target`` at submission, so its jobs carry
        the caller's job group, description and tags, and no two
        tasks share one local-properties object."""
        results: dict[str, AssetResult] = {}
        blocked: set[str] = set()
        waiting = list(order)
        running: dict = {}                # future → (key, submit time)
        pool = ThreadPoolExecutor(spark.sparkContext.defaultParallelism,
                                  thread_name_prefix="asset")
        try:
            while waiting or running:
                for key in list(waiting):
                    asset = self.assets[key]
                    if key in blocked:
                        results[key] = AssetResult(key, "skipped")
                    elif all(d in results and results[d].status == "ok"
                             for d in asset.deps):
                        task = inheritable_thread_target(spark)(self._run_one)
                        dep_dfs = {d: materialized[d] for d in asset.deps}
                        fut = pool.submit(task, spark, sf_dir, asset,
                                          dep_dfs, catalog)
                        running[fut] = (key, time.perf_counter())
                    else:
                        continue
                    waiting.remove(key)
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    key, t0 = running.pop(fut)
                    res, frame = fut.result()
                    res.duration_s = time.perf_counter() - t0
                    results[key] = res
                    if frame is not None:
                        materialized[key] = frame
                    if res.status != "ok":
                        blocked |= self.downstream_of(key)
        finally:
            # on an abnormal exit, queued assets never start and the
            # running ones hand their caches to the caller's release
            pool.shutdown(cancel_futures=True)
            for fut, (key, _) in running.items():
                if not fut.cancelled() and fut.exception() is None:
                    frame = fut.result()[1]
                    if frame is not None:
                        materialized[key] = frame
        return {key: results[key] for key in order}

    def _run_one(self, spark, sf_dir, asset: Asset,
                 dep_dfs: dict[str, DataFrame], catalog
                 ) -> tuple[AssetResult, DataFrame | None]:
        """Materialize one asset: build, expectations, then stage,
        audit and publish (catalog) or cache and audit. Returns its
        result and the frame the run keeps for it: the audited frame
        downstream assets receive, or, without a catalog, the cache
        to release even when the asset failed."""
        audited = None
        cached = None

        def audit(frame, rows=None):
            # frame: the staged read (catalog) or the cached frame
            nonlocal audited
            audited = (frame, *evaluate_checks(frame, asset.checks, rows))
            return all(ok for ok, _ in audited[2].values())

        try:
            df = asset.fn(spark, sf_dir, **dep_dfs)
            df, exp_metrics, exp_failed = self._apply_expectations(asset, df)
            if catalog is None:
                df = cached = df.cache()
            if catalog is None or exp_failed:
                # a failing expectation blocks the asset: nothing
                # is staged, but its checks still report
                passed = audit(df)
            else:
                passed = catalog.write(asset.key, df, mode="overwrite",
                                       _audit=audit) is not None
        except Exception as e:  # noqa: BLE001 — orchestrator boundary
            return AssetResult(asset.key, "error", error=str(e)[:500]), cached
        frame, rows, outcomes = audited
        ok = passed and not exp_failed
        return AssetResult(
            asset.key, "ok" if ok else "check_failed", rows,
            {name: verdict for name, (verdict, _) in outcomes.items()},
            expectations=exp_metrics,
            check_meta={name: meta for name, (_, meta) in outcomes.items()},
        ), frame if ok else cached

    @staticmethod
    def _apply_expectations(asset: Asset, df: DataFrame):
        """Evaluate every expectation's violation count in ONE
        aggregate pass, then apply drop filters; returns
        (possibly-filtered df, metrics, any_fail_violated)."""
        if not asset.expectations:
            return df, {}, False
        metrics = count_violations(
            df, {name: pred for name, pred, _ in asset.expectations})
        failed = any(metrics[name] > 0
                     for name, _, action in asset.expectations
                     if action == "fail")
        for name, pred, action in asset.expectations:
            if action == "drop" and metrics[name] > 0:
                df = df.where(check_passes(pred))
        return df, metrics, failed
