"""Orchestration-layer tests (SURVEY §2.10): toposort, check gating,
selection DSL, cron schedules, lineage registry consistency."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from university_data_lakehouse_spark.plans.assets import Asset, AssetGraph
from university_data_lakehouse_spark.plans.checks import (
    completeness,
    freshness,
    no_duplicates,
    not_null_pk,
    referential_integrity,
    row_count,
    value_range,
)
from university_data_lakehouse_spark.plans.lineage import (
    GOLD_LINEAGE,
    SILVER_LINEAGE,
    lineage_edges,
)
from university_data_lakehouse_spark.plans.medallion import medallion_graph
from university_data_lakehouse_spark.plans.schedules import (
    cron_matches,
    next_run,
    parse_schedules,
)
from university_data_lakehouse_spark.plans.selection import select_assets
import __spark_entry__ as entry_mod


def test_medallion_toposort_and_full_run(spark, sf_dir):
    g = medallion_graph()
    order = g.toposort()
    pos = {k: i for i, k in enumerate(order)}
    for key, asset in g.assets.items():
        for d in asset.deps:
            assert pos[d] < pos[key], (d, key)
    results = g.materialize(spark, sf_dir)
    assert all(r.status == "ok" for r in results.values()), {
        k: (r.status, r.checks, r.error) for k, r in results.items()
        if r.status != "ok"
    }
    assert results["gold/order_metrics"].rows > 0


def test_failed_check_blocks_downstream(spark, sf_dir):
    def bad_fn(s, d):
        return s.range(5).select(F.lit(None).cast("bigint").alias("pk"))

    def child_fn(s, d):
        return s.range(1)

    g = AssetGraph([
        Asset("a", bad_fn, checks=(("not_null_pk", not_null_pk("pk")),)),
        Asset("b", child_fn, deps=("a",)),
        Asset("c", child_fn),
    ])
    res = g.materialize(spark, "unused")
    assert res["a"].status == "check_failed"
    assert res["b"].status == "skipped"
    assert res["c"].status == "ok"


def test_independent_assets_materialize_concurrently(spark):
    """Two independent assets meet at a barrier: both end ``ok`` only
    if they run at the same time (run one after the other, the first
    would wait out the barrier's timeout and both would error). Their
    ``[submit, result]`` intervals overlap: both lie inside the
    materialize call, and their durations add up to more than it
    lasted."""
    import threading
    import time

    barrier = threading.Barrier(2, timeout=30)

    def meet(s, d):
        barrier.wait()
        time.sleep(1.0)
        return s.range(3)

    g = AssetGraph([Asset("a", meet), Asset("b", meet)])
    t0 = time.perf_counter()
    res = g.materialize(spark, "unused")
    wall = time.perf_counter() - t0
    assert {k: r.status for k, r in res.items()} == {"a": "ok", "b": "ok"}, res
    assert res["a"].rows == res["b"].rows == 3
    assert all(1.0 <= r.duration_s <= wall for r in res.values()), (res, wall)
    assert res["a"].duration_s + res["b"].duration_s > wall, (res, wall)


def test_scheduler_starts_no_asset_before_its_upstreams(spark):
    """Stress: a seeded 24-asset DAG run with a tiny interpreter switch
    interval. Every asset starts only after each of its upstreams has
    passed its checks, receives exactly its upstreams' frames, and
    results come back in toposort order."""
    import random
    import sys
    import time

    rng = random.Random(7)
    keys = [f"n{i:02d}" for i in range(24)]
    deps = {k: tuple(sorted(rng.sample(keys[:i], min(i, rng.randint(0, 3)))))
            for i, k in enumerate(keys)}
    started, audited = {}, {}

    def build(key):
        def fn(s, d, **dep):
            started[key] = time.perf_counter()
            assert set(dep) == set(deps[key])
            time.sleep(int(key[1:]) % 4 * 0.02)
            return s.range(int(key[1:]) + 1)
        return fn

    def stamp(key):
        def check(df):
            audited[key] = time.perf_counter()
            return True, {}
        return check

    g = AssetGraph([Asset(k, build(k), deps=deps[k],
                          checks=(("stamp", stamp(k)),)) for k in keys])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = g.materialize(spark, "unused")
    finally:
        sys.setswitchinterval(interval)
    assert list(res) == g.toposort()
    assert all(r.status == "ok" for r in res.values()), res
    assert [res[k].rows for k in keys] == list(range(1, 25))
    for k in keys:
        for d in deps[k]:
            assert audited[d] < started[k], (d, k)


def test_failed_asset_skips_only_its_downstream(spark, tmp_path):
    """A build error skips the failed asset's downstream and nothing
    else: an independent sibling (and its own child) still commit,
    downstream assets read the published upstream, and results come
    back in toposort order although ``e_fast`` finishes before
    ``d_slow``."""
    import threading

    from university_data_lakehouse_spark.tables import TableCatalog

    audited_e = threading.Event()

    def boom(s, d):
        raise RuntimeError("boom")

    def slow(s, d):
        assert audited_e.wait(30)
        return s.range(4)

    def signal(df):
        audited_e.set()
        return True, {}

    g = AssetGraph([
        Asset("a_fails", boom),
        Asset("b_child", lambda s, d, **dep: dep["a_fails"],
              deps=("a_fails",)),
        Asset("c_grandchild", lambda s, d, **dep: dep["b_child"],
              deps=("b_child",)),
        Asset("d_slow", slow),
        Asset("e_fast", lambda s, d: s.range(2),
              checks=(("signal", signal),)),
        Asset("f_reads_slow", lambda s, d, **dep: dep["d_slow"].limit(1),
              deps=("d_slow",), checks=(("row_count", row_count(1)),)),
    ])
    catalog = TableCatalog(str(tmp_path / "wh"))
    res = g.materialize(spark, "unused", catalog=catalog)
    assert list(res) == g.toposort()
    assert {k: r.status for k, r in res.items()} == {
        "a_fails": "error", "b_child": "skipped", "c_grandchild": "skipped",
        "d_slow": "ok", "e_fast": "ok", "f_reads_slow": "ok"}
    assert "boom" in res["a_fails"].error
    assert res["b_child"].duration_s is None
    assert (res["d_slow"].rows, res["e_fast"].rows,
            res["f_reads_slow"].rows) == (4, 2, 1)
    assert catalog.tables() == ["d_slow", "e_fast", "f_reads_slow"]


def test_uncataloged_run_releases_every_cache(spark):
    """Without a catalog every asset frame is cached for its checks;
    after the run the session holds exactly the persisted RDDs it held
    before, including the caches of a check-failed asset and of one
    whose check raised."""
    sc = spark.sparkContext

    def persisted():
        return sorted(sc._jsc.getPersistentRDDs().keys())

    during = []

    def probe(df):
        during.append(len(persisted()))
        return True, {}

    def raises(df):
        raise ValueError("check crashed")

    before = persisted()
    # distinct plans: equal plans would share one cache entry
    g = AssetGraph([
        Asset("ok", lambda s, d: s.range(5), checks=(("probe", probe),)),
        Asset("bad", lambda s, d: s.range(6),
              checks=(("row_count", row_count(7)), ("probe", probe))),
        Asset("crash", lambda s, d: s.range(7),
              checks=(("row_count", row_count(1)), ("raises", raises))),
        Asset("child", lambda s, d, **dep: dep["bad"], deps=("bad",)),
    ])
    res = g.materialize(spark, "unused")
    assert {k: r.status for k, r in res.items()} == {
        "bad": "check_failed", "child": "skipped", "crash": "error",
        "ok": "ok"}
    assert min(during) > len(before)          # the checks read a cache
    assert persisted() == before


def test_checks_pass_and_fail(spark, sf_dir, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0, dt.datetime(2024, 1, 1)), (2, -5.0, dt.datetime(2024, 1, 2)),
         (2, 3.0, None)],
        "id long, v double, ts timestamp",
    )
    assert not_null_pk("id")(df)[0]
    assert not no_duplicates("id")(df)[0]
    assert row_count(3)(df)[0] and not row_count(4)(df)[0]
    assert not value_range("v", 0.0, 100.0)(df)[0]
    parent = spark.createDataFrame([(1,)], "id long")
    ok, meta = referential_integrity("id", parent, "id")(df)
    assert not ok and meta["orphans"] == 2
    ok, meta = completeness("ts", 0.9)(df)
    assert not ok
    ok, meta = freshness("ts", 24.0, now=dt.datetime(2024, 1, 2, 12))(df)
    assert ok and meta["age_hours"] == pytest.approx(12.0)

    # the same checks fused into one asset — one aggregate over the
    # cached frame, or over the staged files with a catalog — give the
    # verdicts and metadata of each factory called alone
    from university_data_lakehouse_spark.plans.checks import accepted_values
    from university_data_lakehouse_spark.tables import TableCatalog

    checks = (
        ("not_null_pk", not_null_pk("id")),
        ("no_duplicates", no_duplicates("id")),
        ("row_count", row_count(3)),
        ("value_range", value_range("v", 0.0, 100.0)),
        ("referential_integrity", referential_integrity("id", parent, "id")),
        ("completeness", completeness("ts", 0.9)),
        ("freshness", freshness("ts", 24.0, now=dt.datetime(2024, 1, 2, 12))),
        ("accepted_values", accepted_values("id", [1])),
    )
    alone = {name: check(df) for name, check in checks}
    g = AssetGraph([Asset("fused", lambda s, d: df, checks=checks)])
    for catalog in (None, TableCatalog(str(tmp_path / "wh"))):
        r = g.materialize(spark, sf_dir, catalog=catalog)["fused"]
        assert r.status == "check_failed" and r.rows == 3
        assert r.checks == {n: ok for n, (ok, _) in alone.items()}
        assert r.check_meta == {n: meta for n, (_, meta) in alone.items()}


def test_selection_dsl():
    g = medallion_graph()
    assets = list(g.assets.values())
    assert select_assets(assets, "*") == sorted(g.assets)
    silver = select_assets(assets, "group:silver")
    assert all(k.startswith("silver/") for k in silver) and len(silver) == 6
    assert select_assets(assets, "silver") == silver  # bare token = group
    assert select_assets(assets, "key:gold/status_funnel") == ["gold/status_funnel"]
    both = select_assets(assets, "group:silver | group:gold")
    assert len(both) == 9
    gold_spark = select_assets(assets, "tag:tier=Gold & kind:spark")
    assert gold_spark == select_assets(assets, "group:gold")
    assert select_assets(assets, "tag:layer=bronze & kind:parquet") == sorted(
        k for k in g.assets if k.startswith("bronze/")
    )


def test_schedules_cron():
    cfgs = parse_schedules([
        {"name": "nightly", "cron_schedule": "0 2 * * *",
         "asset_selection": "group:silver | group:gold"},
        {"name": "hourly", "cron_schedule": "15 * * * *", "enabled": False},
    ])
    assert cfgs[0].selection.startswith("group:silver")
    assert not cfgs[1].enabled
    assert cron_matches("0 2 * * *", dt.datetime(2024, 5, 1, 2, 0))
    assert not cron_matches("0 2 * * *", dt.datetime(2024, 5, 1, 3, 0))
    assert cron_matches("*/15 * * * *", dt.datetime(2024, 5, 1, 3, 45))
    nxt = next_run("0 2 * * *", dt.datetime(2024, 5, 1, 2, 30))
    assert nxt == dt.datetime(2024, 5, 2, 2, 0)


def test_scheduler_tick_runs_due_jobs(spark, tmp_path):
    """(r16) run_scheduled_jobs is the daemon tick: due schedules
    resolve their selection DSL to asset keys and materialize exactly
    that closure — disabled schedules never fire, a non-matching cron
    never fires, an aware timestamp is matched on each schedule's OWN
    timezone wall clock (02:00 America/New_York == 06:00Z in July,
    07:00Z in January), and an empty selection records {} instead of
    materializing everything."""
    from university_data_lakehouse_spark.plans.assets import (
        Asset,
        AssetGraph,
    )
    from university_data_lakehouse_spark.plans.checks import row_count
    from university_data_lakehouse_spark.plans.schedules import (
        due_schedules,
        parse_schedules,
        run_scheduled_jobs,
    )

    ran = []

    def mk(key, group, deps=()):
        def fn(spark, sf_dir, **_):
            ran.append(key)
            return spark.range(3).withColumnRenamed("id", "pk")
        return Asset(key=key, fn=fn, deps=deps, group=group,
                     checks=(("row_count", row_count(1)),))

    g = AssetGraph([
        mk("bronze/src", "bronze"),
        mk("gold/report", "gold", deps=("bronze/src",)),
        mk("gold/other", "isolated"),       # not selected, no dep edge
    ])
    schedules = parse_schedules([
        {"name": "nightly_gold", "cron_schedule": "0 2 * * *",
         "asset_selection": "group:gold",
         "timezone": "America/New_York"},
        {"name": "disabled", "cron_schedule": "0 2 * * *",
         "enabled": False},
        {"name": "weekly", "cron_schedule": "0 2 * * 0",
         "asset_selection": "*"},
        {"name": "no_match", "cron_schedule": "0 2 * * *",
         "asset_selection": "group:nothing",
         "timezone": "America/New_York"},
    ])

    # 2024-07-01 06:00Z is a Monday, 02:00 EDT: nightly fires (on its
    # local wall clock), weekly (Sunday) and disabled don't
    t_summer = dt.datetime(2024, 7, 1, 6, 0, tzinfo=dt.timezone.utc)
    assert [s.name for s in due_schedules(schedules, t_summer)] == [
        "nightly_gold", "no_match"]
    # same 06:00Z in January is 01:00 EST — nothing due
    t_winter = dt.datetime(2024, 1, 15, 6, 0, tzinfo=dt.timezone.utc)
    assert due_schedules(schedules, t_winter) == []
    assert [s.name for s in due_schedules(
        schedules, dt.datetime(2024, 1, 15, 7, 0,
                               tzinfo=dt.timezone.utc))] == [
        "nightly_gold", "no_match"]

    out = run_scheduled_jobs(spark, str(tmp_path), g, schedules,
                             t_summer)
    assert set(out) == {"nightly_gold", "no_match"}
    # the gold selection materialized its upstream closure, nothing else
    assert set(out["nightly_gold"]) == {"bronze/src", "gold/report"}
    assert all(r.status == "ok"
               for r in out["nightly_gold"].values())
    assert out["no_match"] == {}
    assert ran == ["bronze/src", "gold/report"]   # gold/other never ran


def test_lineage_matches_live_schemas(spark, sf_dir):
    """Registry column names/types must match the actual operator
    outputs (the reference never validates this; we do)."""
    queries = entry_mod.queries()
    for table, cols in {**SILVER_LINEAGE, **GOLD_LINEAGE}.items():
        df = queries[table](spark, sf_dir)
        live = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        reg = {c["name"]: c["type"] for c in cols}
        assert reg == live, (table, reg, live)


def test_lineage_edges_shape():
    edges = lineage_edges(SILVER_LINEAGE)
    assert ("bronze/customer.c_name", "silver_dim_customers.full_name") in edges
    assert all(src.startswith("bronze/") for src, _ in edges)


def test_catalog_lineage_push():
    """Table-level lineage export in the reference's catalog REST
    shape (gold_analytics_component.py:288-308), via a recording
    transport."""
    from university_data_lakehouse_spark.plans.lineage import (
        LINEAGE_PATH,
        RecordingTransport,
        push_lineage,
    )
    from university_data_lakehouse_spark.plans.medallion import medallion_graph

    graph = medallion_graph()
    send = RecordingTransport()
    n = push_lineage(graph, send)
    assert n == len(send.calls) > 0
    # one PUT per (dep -> asset) edge of the graph, all to the
    # reference's endpoint path (gold_analytics_component.py:294)
    n_edges = sum(len(a.deps) for a in graph.assets.values())
    assert n == n_edges
    assert all(path == LINEAGE_PATH for path, _ in send.calls)
    sent = [p for _, p in send.calls]
    fqns = {(p["edge"]["fromEntity"]["fqn"], p["edge"]["toEntity"]["fqn"])
            for p in sent}
    assert ("bronze.customer", "silver.dim_customers") in fqns
    assert ("silver.fact_contacts", "gold.status_funnel") in fqns
    for p in sent:
        assert p["edge"]["fromEntity"]["type"] == "table"
        assert p["edge"]["toEntity"]["type"] == "table"


def test_catalog_lineage_push_carries_column_edges():
    """VERDICT r3 item 7: edge payloads render per-column lineage
    (reference analog: _build_column_lineage at
    trino_iceberg_transform_component.py:304)."""
    from university_data_lakehouse_spark.plans.lineage import (
        RecordingTransport,
        push_lineage,
    )
    from university_data_lakehouse_spark.plans.medallion import medallion_graph

    send = RecordingTransport()
    push_lineage(medallion_graph(), send)
    by_edge = {(p["edge"]["fromEntity"]["fqn"], p["edge"]["toEntity"]["fqn"]): p
               for _, p in send.calls}

    # silver edge: bronze columns feed silver columns directly
    cl = by_edge[("bronze.customer", "silver.dim_customers")][
        "edge"]["lineageDetails"]["columnsLineage"]
    pairs = {(tuple(c["fromColumns"]), c["toColumn"]) for c in cl}
    assert (("bronze.customer.c_mktsegment",),
            "silver.dim_customers.segment") in pairs
    assert (("bronze.customer.c_name", "bronze.customer.c_mktsegment"),
            "silver.dim_customers.full_name") in pairs
    # columns from OTHER bronze deps don't leak onto this edge
    assert all(f.startswith("bronze.customer.")
               for c in cl for f in c["fromColumns"])

    # gold edge from a SILVER dep: bronze roots translate through the
    # dep's own registry (l_quantity -> fact_lineitems.quantity)
    cl = by_edge[("silver.fact_lineitems", "gold.order_metrics")][
        "edge"]["lineageDetails"]["columnsLineage"]
    by_to = {c["toColumn"]: c["fromColumns"] for c in cl}
    assert "silver.fact_lineitems.quantity" in by_to[
        "gold.order_metrics.total_qty"]


def test_corpus_lineage_matches_live_schemas_and_pushes(spark, sf_dir):
    """CORPUS_LINEAGE validates against the live corpus outputs, and
    the corpus asset graph's catalog payloads carry column-level
    lineage down to the bronze documents columns."""
    from university_data_lakehouse_spark.operators.pipeline import (
        corpus_build,
        corpus_stats,
    )
    from university_data_lakehouse_spark.plans.corpus import corpus_graph
    from university_data_lakehouse_spark.plans.lineage import (
        CORPUS_LINEAGE,
        RecordingTransport,
        push_lineage,
    )

    for table, fn in (("gold_corpus_shards", corpus_build),
                      ("gold_corpus_stats", corpus_stats)):
        df = fn(spark, sf_dir)
        live = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        reg = {c["name"]: c["type"] for c in CORPUS_LINEAGE[table]}
        assert reg == live, (table, reg, live)

    send = RecordingTransport()
    push_lineage(corpus_graph(), send)
    by_to = {p["edge"]["toEntity"]["fqn"]: p for _, p in send.calls}
    cl = by_to["gold.corpus_shards"]["edge"]["lineageDetails"][
        "columnsLineage"]
    tos = {c["toColumn"] for c in cl}
    assert "gold.corpus_shards.bin_id" in tos
    assert all(f.startswith("bronze.documents.")
               for c in cl for f in c["fromColumns"])


def test_accepted_values_check(spark):
    """Enum-domain gate: unaccepted values fail; allow_null relaxes
    only the null case."""
    from university_data_lakehouse_spark.plans.checks import accepted_values

    df = spark.createDataFrame([("O",), ("F",), ("X",), (None,)],
                               "status string")
    ok, meta = accepted_values("status", ["O", "F"])(df)
    assert not ok and meta["unaccepted_rows"] == 2
    ok, meta = accepted_values("status", ["O", "F"], allow_null=True)(df)
    assert not ok and meta["unaccepted_rows"] == 1
    clean = df.where("status IN ('O','F')")
    assert accepted_values("status", ["O", "F"])(clean)[0]


def test_run_history_records_and_latest_status(spark, sf_dir, tmp_path):
    """Every materialization lands in the meta/run_history managed
    table; latest_status answers the operator dashboard query, and a
    later failing run supersedes the earlier ok."""
    import datetime as dt

    from university_data_lakehouse_spark.plans.history import (
        latest_status,
        record_run,
    )
    from university_data_lakehouse_spark.plans.medallion import (
        medallion_graph,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    catalog = TableCatalog(str(tmp_path / "warehouse"))
    g = medallion_graph()
    res = g.materialize(spark, sf_dir, keys=["silver/dim_parts"],
                        catalog=catalog)
    t0 = dt.datetime(2026, 8, 14, 10, 0, tzinfo=dt.timezone.utc)
    record_run(spark, catalog, res, run_id="run-1", ts=t0)
    status = {r.asset_key: r.status
              for r in latest_status(spark, catalog).collect()}
    assert status["silver/dim_parts"] == "ok"
    assert status["bronze/part"] == "ok"
    durations = {r.asset_key: r.duration_s for r in
                 catalog.table("meta/run_history").read(spark).collect()}
    assert durations.keys() == res.keys()
    assert all(d > 0 for d in durations.values()), durations

    # a later degraded run supersedes per-asset latest status
    from university_data_lakehouse_spark.plans.assets import AssetResult
    degraded = {"silver/dim_parts": AssetResult(
        "silver/dim_parts", "check_failed", rows=0,
        checks={"row_count": False})}
    record_run(spark, catalog, degraded, run_id="run-2",
               ts=t0 + dt.timedelta(hours=1))
    latest = {r.asset_key: (r.status, r.run_id)
              for r in latest_status(spark, catalog).collect()}
    assert latest["silver/dim_parts"] == ("check_failed", "run-2")
    assert latest["bronze/part"] == ("ok", "run-1")
    # history itself is a versioned managed table
    assert catalog.table("meta/run_history").latest_version() == 2


def test_dlt_style_expectations_warn_drop_fail(spark, sf_dir, tmp_path):
    """Row-level expectations (Delta Live Tables parity): warn counts
    and publishes all rows, drop publishes only conforming rows,
    fail blocks the asset and its downstream; all violation counts
    surface in the result."""
    from university_data_lakehouse_spark.plans.assets import Asset, AssetGraph
    from university_data_lakehouse_spark.tables import TableCatalog

    def src(spark, sf_dir):
        return spark.range(10).selectExpr(
            "id", "CASE WHEN id < 7 THEN id ELSE NULL END AS v")

    ok_graph = AssetGraph([
        Asset(key="a", fn=src, expectations=(
            ("v_small", "v < 5", "warn"),
            ("v_not_null", "v IS NOT NULL", "drop"),
        )),
        Asset(key="b", fn=lambda s, d, **dep: dep["a"], deps=("a",)),
    ])
    cat = TableCatalog(str(tmp_path / "wh"))
    res = ok_graph.materialize(spark, sf_dir, catalog=cat)
    # NULL v passes the warn predicate (SQL UNKNOWN), so warn counts
    # only the non-null ids 5,6; drop removes the 3 NULL rows
    assert res["a"].status == "ok"
    assert res["a"].expectations == {"v_small": 2, "v_not_null": 3}
    assert res["a"].rows == 7
    assert cat.table("a").read(spark).count() == 7
    assert res["b"].status == "ok" and res["b"].rows == 7

    fail_graph = AssetGraph([
        Asset(key="a", fn=src, expectations=(
            ("v_complete", "v IS NOT NULL", "fail"),)),
        Asset(key="b", fn=lambda s, d, **dep: dep["a"], deps=("a",)),
    ])
    cat2 = TableCatalog(str(tmp_path / "wh2"))
    res = fail_graph.materialize(spark, sf_dir, catalog=cat2)
    assert res["a"].status == "check_failed"
    assert res["a"].expectations == {"v_complete": 3}
    assert res["b"].status == "skipped"
    assert "a" not in cat2.tables()        # nothing published
    _assert_abandoned(cat2.table("a"))

    # a drop expectation, then a check failing on the 7 staged rows:
    # the staged files are abandoned, not published
    audit_graph = AssetGraph([
        Asset(key="a", fn=src,
              expectations=(("v_not_null", "v IS NOT NULL", "drop"),),
              checks=(("row_count", row_count(8)),)),
        Asset(key="b", fn=lambda s, d, **dep: dep["a"], deps=("a",)),
    ])
    cat3 = TableCatalog(str(tmp_path / "wh3"))
    res = audit_graph.materialize(spark, sf_dir, catalog=cat3)
    assert res["a"].status == "check_failed" and res["a"].rows == 7
    assert res["a"].check_meta == {"row_count": {"rows": 7, "min_rows": 8}}
    assert res["b"].status == "skipped"
    _assert_abandoned(cat3.table("a"))


def _assert_abandoned(table):
    """No manifest and no data file: a failed audit published nothing
    and left no staged file behind."""
    import glob
    import os

    assert not table.exists()
    assert not glob.glob(os.path.join(table.log_dir, "v*.json"))
    assert [f for _, _, fs in os.walk(table.data_dir) for f in fs] == []


def test_medallion_materialization_job_budget(spark, sf_dir, tmp_path,
                                               jobs_in_group):
    """Write–audit–publish: each asset is one staged write plus at most
    one fused check aggregate, so a warm materialization of the
    16-asset medallion graph runs 62 jobs at sf0.001 — the count of the
    same graph run one asset at a time, which the concurrent scheduler
    must keep. Its jobs run on worker threads, so the exact count also
    proves they carry the caller's job group (a lost group counts 0).
    Checks wrapped with functools.wraps (as a tracer wraps them) still
    fuse: the wrapped graph runs exactly as many jobs."""
    import dataclasses
    import functools

    from university_data_lakehouse_spark.tables import TableCatalog

    def wrap(fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return fn(*args, **kwargs)
        return traced

    g = medallion_graph()
    wrapped = AssetGraph([
        dataclasses.replace(a, checks=tuple((n, wrap(c)) for n, c in a.checks))
        for a in g.assets.values()])
    jobs = {}
    for name, graph in (("cold", g), ("warm", g), ("wrapped", wrapped)):
        def run(graph=graph, name=name):
            res = graph.materialize(spark, sf_dir,
                                    catalog=TableCatalog(str(tmp_path / name)))
            assert len(res) == 16
            assert all(r.status == "ok" for r in res.values()), res
        jobs[name] = jobs_in_group(f"job-budget-{name}", run)
    assert jobs["cold"] >= jobs["warm"] == 62, jobs
    assert jobs["wrapped"] == jobs["warm"], jobs


def test_volume_anomaly_flags_row_count_drift(spark, sf_dir, tmp_path):
    """Deequ-style anomaly detection over run history: a stable asset
    never flags, a 4x row-count jump flags once enough baseline runs
    exist, and an asset with too little history never flags no matter
    how wild its latest count."""
    import datetime as dt

    from university_data_lakehouse_spark.plans.assets import AssetResult
    from university_data_lakehouse_spark.plans.history import (
        record_run,
        volume_anomaly,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    catalog = TableCatalog(str(tmp_path / "warehouse"))
    t0 = dt.datetime(2026, 8, 14, 8, 0, tzinfo=dt.timezone.utc)

    def run(i, stable, jumpy, young=None):
        res = {
            "gold/stable": AssetResult("gold/stable", "ok", rows=stable),
            "gold/jumpy": AssetResult("gold/jumpy", "ok", rows=jumpy),
        }
        if young is not None:
            res["gold/young"] = AssetResult("gold/young", "ok", rows=young)
        record_run(spark, catalog, res, run_id=f"run-{i}",
                   ts=t0 + dt.timedelta(hours=i))

    run(1, 100, 100)
    run(2, 101, 102)
    run(3, 99, 98)
    run(4, 100, 400, young=12345)     # jumpy quadruples; young is new
    out = {r.asset_key: r for r in volume_anomaly(
        spark, catalog, tolerance=0.5, min_history=3).collect()}
    assert not out["gold/stable"].is_anomaly
    assert out["gold/jumpy"].is_anomaly
    assert out["gold/jumpy"].n_prior == 3
    assert out["gold/young"].n_prior == 0
    assert not out["gold/young"].is_anomaly


def test_volume_anomaly_flags_zero_baseline_jump(spark, tmp_path):
    """ADVICE r5: an asset whose baseline mean is 0 rows must flag
    when it suddenly writes rows (relative deviation is infinite, not
    NULL-coalesced-to-0), while a zero-baseline asset that stays at 0
    stays quiet."""
    import datetime as dt

    from university_data_lakehouse_spark.plans.assets import AssetResult
    from university_data_lakehouse_spark.plans.history import (
        record_run,
        volume_anomaly,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    catalog = TableCatalog(str(tmp_path / "warehouse"))
    t0 = dt.datetime(2026, 8, 14, 8, 0, tzinfo=dt.timezone.utc)
    counts = [(0, 0), (0, 0), (0, 0), (5_000_000, 0)]
    for i, (burst, quiet) in enumerate(counts, start=1):
        record_run(spark, catalog, {
            "gold/burst": AssetResult("gold/burst", "ok", rows=burst),
            "gold/quiet": AssetResult("gold/quiet", "ok", rows=quiet),
        }, run_id=f"run-{i}", ts=t0 + dt.timedelta(hours=i))
    out = {r.asset_key: r for r in volume_anomaly(
        spark, catalog, tolerance=0.5, min_history=3).collect()}
    assert out["gold/burst"].is_anomaly
    assert out["gold/burst"].deviation == float("inf")
    assert not out["gold/quiet"].is_anomaly


def test_materialize_pushes_lineage_for_ok_assets_only(spark):
    """VERDICT r5 #7: the catalog-push transport is wired through
    graph materialization — one PUT-shaped (path, payload) call per
    dependency edge of each successfully-materialized asset, and NO
    pushes for edges into check-failed or skipped assets (the catalog
    must keep describing the last good lineage)."""
    from university_data_lakehouse_spark.plans.lineage import (
        LINEAGE_PATH,
        RecordingTransport,
    )

    def bad_fn(s, d, **dep):
        return s.range(5).select(F.lit(None).cast("bigint").alias("pk"))

    def child_fn(s, d, **dep):
        return s.range(1)

    g = AssetGraph([
        Asset("bronze/src", child_fn),
        Asset("silver/bad", bad_fn, deps=("bronze/src",),
              checks=(("not_null_pk", not_null_pk("pk")),)),
        Asset("gold/blocked", child_fn, deps=("silver/bad",)),
        Asset("gold/fine", child_fn, deps=("bronze/src",)),
    ])
    send = RecordingTransport()
    res = g.materialize(spark, "unused", lineage_send=send)
    assert res["silver/bad"].status == "check_failed"
    assert res["gold/blocked"].status == "skipped"
    assert res["gold/fine"].status == "ok"
    assert all(path == LINEAGE_PATH for path, _ in send.calls)
    edges = {(p["edge"]["fromEntity"]["fqn"], p["edge"]["toEntity"]["fqn"])
             for _, p in send.calls}
    assert edges == {("bronze.src", "gold.fine")}
