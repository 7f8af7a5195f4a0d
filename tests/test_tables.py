"""Managed-table layer tests: commit protocol, time travel, schema
evolution, MERGE upsert, and medallion wiring (SURVEY §2.10 +
VERDICT r1 item 1).

Parity target: the reference materializes every asset as an Iceberg
table (trino_iceberg_transform_component.py:116-129); these tests pin
the equivalent guarantees of tables/format.py."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from university_data_lakehouse_spark.plans.medallion import (
    incremental_fact_orders,
    medallion_graph,
)
from university_data_lakehouse_spark.tables import (
    CommitConflict,
    ManagedTable,
    TableCatalog,
)
from university_data_lakehouse_spark.tables.format import SchemaMismatch


@pytest.fixture()
def catalog(tmp_path):
    return TableCatalog(str(tmp_path / "warehouse"))


def _df(spark, rows):
    return spark.createDataFrame([Row(id=i, val=v) for i, v in rows])


def test_write_read_roundtrip_and_versions(spark, catalog):
    t = catalog.table("t1")
    v1 = t.write(_df(spark, [(1, "a"), (2, "b")]))
    assert v1 == 1
    v2 = t.write(_df(spark, [(3, "c")]), mode="append")
    assert v2 == 2
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # overwrite supersedes
    t.write(_df(spark, [(9, "z")]), mode="overwrite")
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(9, "z")}


def test_time_travel(spark, catalog):
    t = catalog.table("t2")
    t.write(_df(spark, [(1, "a")]))
    t.write(_df(spark, [(2, "b")]), mode="overwrite")
    assert {r.id for r in t.read(spark, version=1).collect()} == {1}
    assert {r.id for r in t.read(spark, version=2).collect()} == {2}
    ops = [m["operation"] for m in t.history()]
    assert ops == ["overwrite", "overwrite"]


def test_staged_files_invisible_until_commit(spark, catalog):
    """Reader works off the manifest, not directory listing: files
    staged without a commit (a crashed writer) must be invisible."""
    t = catalog.table("t3")
    t.write(_df(spark, [(1, "a")]))
    t._stage(_df(spark, [(99, "ghost")]))  # crash before commit
    assert {r.id for r in t.read(spark).collect()} == {1}


def test_commit_conflict(spark, catalog):
    t = catalog.table("t4")
    t.write(_df(spark, [(1, "a")]))
    staged = t._stage(_df(spark, [(2, "b")]))
    manifest = {
        "version": 2, "ts": 0, "operation": "append",
        "schema": t.manifest()["schema"], "add": staged, "remove": [],
    }
    t._commit(2, manifest)
    with pytest.raises(CommitConflict):
        t._commit(2, manifest)


def test_schema_evolution(spark, catalog):
    t = catalog.table("t5")
    t.write(_df(spark, [(1, "a")]))
    wider = spark.createDataFrame([Row(id=2, val="b", extra=1.5)])
    with pytest.raises(SchemaMismatch):
        t.write(wider, mode="append")
    t.write(wider, mode="append", evolve=True)
    got = t.read(spark)
    assert set(got.columns) == {"id", "val", "extra"}
    rows = {r.id: r.extra for r in got.collect()}
    assert rows[2] == 1.5 and rows[1] is None  # old files null-fill
    # type change is always refused
    with pytest.raises(SchemaMismatch):
        t.write(spark.createDataFrame([Row(id="not-an-int", val="x")]),
                mode="append", evolve=True)


def test_merge_upsert(spark, catalog):
    t = catalog.table("t6")
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = _df(spark, [(2, "B*"), (4, "d")])
    v = t.merge(src, keys=["id"])
    assert v == 2
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B*"), (3, "c"), (4, "d")}
    # prior version untouched (time travel across a merge)
    old = {(r.id, r.val) for r in t.read(spark, version=1).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_delete_unmatched(spark, catalog):
    t = catalog.table("t7")
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(_df(spark, [(2, "B*")]), keys=["id"],
            when_not_matched_by_source="delete")
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(2, "B*")}


def test_merge_loses_race_to_concurrent_commit(spark, catalog):
    """ADVICE r3: a rewrite derived from a stale snapshot must raise
    CommitConflict (commit at snapshot+1 collides), never silently
    supersede the concurrent writer."""
    t = catalog.table("t8")
    t.write(_df(spark, [(1, "a")]))            # v1
    snapshot = t.latest_version()
    t.write(_df(spark, [(2, "b")]), mode="append")  # concurrent writer -> v2
    with pytest.raises(CommitConflict):
        t._rewrite(_df(spark, [(1, "A*")]), "merge", base_version=snapshot)
    # the concurrent commit survived untouched
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(1, "a"), (2, "b")}


def test_merge_refuses_type_change_and_duplicate_keys(spark, catalog):
    """ADVICE r3: merge goes through the same schema gate as write(),
    and assert_unique_keys fails fast on a duplicate-key source."""
    t = catalog.table("t9")
    t.write(_df(spark, [(1, "a")]))
    retyped = spark.createDataFrame([Row(id=1, val=2.5)])  # val str -> double
    with pytest.raises(SchemaMismatch):
        t.merge(retyped, keys=["id"])
    dup_src = _df(spark, [(2, "x"), (2, "y")])
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(dup_src, keys=["id"], assert_unique_keys=True)
    # documented default: duplicates insert as-is
    t.merge(dup_src, keys=["id"])
    assert t.read(spark).where("id = 2").count() == 2


def test_incremental_bootstrap_without_table(spark, sf_dir, catalog):
    """ADVICE r3: incremental merge into a never-materialized table
    bootstraps with a full overwrite instead of failing mid-merge."""
    v = incremental_fact_orders(spark, sf_dir, catalog, since_orderkey=0)
    t = catalog.table("silver/fact_orders")
    assert v == 1 and t.manifest()["operation"] == "bootstrap"
    assert t.read(spark).count() > 0


def test_medallion_materializes_tables(spark, sf_dir, catalog):
    g = medallion_graph()
    results = g.materialize(
        spark, sf_dir,
        keys=["silver/fact_orders", "gold/status_funnel"],
        catalog=catalog,
    )
    assert all(r.status == "ok" for r in results.values()), results
    names = catalog.tables()
    assert "silver/fact_orders" in names and "gold/status_funnel" in names
    t = catalog.table("silver/fact_orders")
    assert t.read(spark).count() == results["silver/fact_orders"].rows


def test_incremental_fact_orders_merge(spark, sf_dir, catalog):
    g = medallion_graph()
    g.materialize(spark, sf_dir, keys=["silver/fact_orders"], catalog=catalog)
    t = catalog.table("silver/fact_orders")
    before = t.read(spark).count()
    max_key = t.read(spark).agg(F.max("orderkey")).collect()[0][0]
    # cursor at the middle: merge upserts the tail slice idempotently
    v = incremental_fact_orders(spark, sf_dir, catalog,
                                since_orderkey=max_key // 2)
    assert v == t.latest_version()
    assert t.read(spark).count() == before  # same keys -> pure update
    assert t.manifest()["operation"] == "merge"


def test_failed_check_not_committed(spark, sf_dir, catalog, tmp_path):
    """A check-failed asset must not publish a new table version."""
    from university_data_lakehouse_spark.plans.assets import Asset, AssetGraph

    bad = Asset(
        key="silver/bad",
        fn=lambda spark, sf_dir: spark.range(3).select(
            F.lit(None).cast("string").alias("pk")
        ),
        checks=(("not_null_pk", lambda df: (
            df.where(F.col("pk").isNull()).count() == 0, {})),),
    )
    child = Asset(key="gold/child", deps=("silver/bad",),
                  fn=lambda spark, sf_dir, **deps: deps["silver/bad"])
    res = AssetGraph([bad, child]).materialize(spark, str(tmp_path),
                                               catalog=catalog)
    assert res["silver/bad"].status == "check_failed"
    assert res["gold/child"].status == "skipped"
    t = catalog.table("silver/bad")
    assert not t.exists()
    assert not glob.glob(os.path.join(t.log_dir, "v*.json"))
    # the staged files were abandoned, not left behind
    assert [f for _, _, fs in os.walk(t.data_dir) for f in fs] == []


def test_custom_check_audits_the_staged_files(spark, catalog, tmp_path):
    """A plain callable check reads the staged files — exactly the rows
    a commit publishes — and a passing audit publishes those files."""
    from university_data_lakehouse_spark.plans.assets import Asset, AssetGraph
    from university_data_lakehouse_spark.plans.checks import row_count

    seen = {}

    def spy(df):
        seen["files"] = {f.removeprefix("file://").removeprefix("file:")
                         for f in df.inputFiles()}
        seen["rows"] = df.count()
        return True, {}

    asset = Asset(
        key="silver/spy",
        fn=lambda spark, sf_dir: spark.range(5).withColumnRenamed("id", "pk"),
        checks=(("spy", spy), ("row_count", row_count(5))),
    )
    res = AssetGraph([asset]).materialize(spark, str(tmp_path),
                                          catalog=catalog)
    assert res["silver/spy"].status == "ok" and res["silver/spy"].rows == 5
    t = catalog.table("silver/spy")
    assert seen["files"] == {os.path.join(t.data_dir, *f["name"].split("/"))
                             for f in t.manifest()["files"]}
    assert seen["rows"] == 5


def test_merge_skips_files_outside_key_range(spark, catalog):
    """Delta-style data skipping: a MERGE whose source keys fall
    entirely in one file's range must carry every other file into the
    new manifest untouched (same file name — never read or
    rewritten), with footer stats recorded per staged file."""
    t = catalog.table("t10")
    low = spark.createDataFrame(
        [Row(id=i, val=f"v{i}") for i in range(100)]).repartition(1)
    high = spark.createDataFrame(
        [Row(id=i, val=f"v{i}") for i in range(1000, 1100)]).repartition(1)
    t.write(low)                      # v1: one low-range file
    t.write(high, mode="append")      # v2: + one high-range file
    before = t.manifest()["files"]
    assert all(f["stats"].get("id") for f in before), before
    low_names = {f["name"] for f in before if f["stats"]["id"][1] < 1000}
    assert low_names

    src = spark.createDataFrame(
        [Row(id=1005, val="UPDATED"), Row(id=2000, val="NEW")])
    t.merge(src, keys=["id"])
    after = {f["name"] for f in t.manifest()["files"]}
    assert low_names <= after         # untouched files carried over
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert got[1005] == "UPDATED" and got[2000] == "NEW"
    assert got[5] == "v5" and len(got) == 201

    # empty source: nothing matches, nothing rewritten beyond an
    # empty stage; table contents unchanged
    t.merge(spark.createDataFrame([], t.read(spark).schema), keys=["id"])
    assert t.read(spark).count() == 201


def test_compact_and_vacuum_lifecycle(spark, catalog):
    """compact() bin-packs the snapshot into one file; vacuum() drops
    unreferenced data files + expired manifests, keeps the newest
    version readable, and respects the min-age safety horizon."""
    t = catalog.table("t11")
    t.write(_df(spark, [(1, "a")]).repartition(1))               # v1
    t.write(_df(spark, [(2, "b")]).repartition(1), mode="append")  # v2
    assert len(t.manifest()["files"]) == 2
    v3 = t.compact(spark)
    assert v3 == 3 and len(t.manifest()["files"]) == 1
    assert t.manifest()["operation"] == "compact"
    assert {r.id for r in t.read(spark).collect()} == {1, 2}
    # pre-compact version still time-travelable until vacuumed
    assert {r.id for r in t.read(spark, version=2).collect()} == {1, 2}

    # min-age horizon: freshly staged (possibly in-flight) files survive
    # — and the DEFAULT horizon is the Delta-style 7 days, so a bare
    # vacuum() also deletes nothing on a fresh table
    assert t.vacuum(keep_versions=1) == []
    assert t.vacuum(keep_versions=1, min_age_seconds=3600) == []
    # manifests whose data files the horizon protected must survive
    # too: time travel to v2 still works after a no-op vacuum
    assert {r.id for r in t.read(spark, version=2).collect()} == {1, 2}
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert len(removed) == 2                      # v1+v2 data files gone
    assert {r.id for r in t.read(spark).collect()} == {1, 2}
    with pytest.raises(FileNotFoundError):
        t.manifest(2)                             # expired manifest


def test_compact_loses_race_to_concurrent_commit(spark, catalog, monkeypatch):
    """ADVICE r4: compact() pins its snapshot at entry, so a commit
    landing while the rewrite job runs makes the compaction raise
    CommitConflict instead of silently dropping the writer's rows."""
    t = catalog.table("t12")
    t.write(_df(spark, [(1, "a")]))                      # v1
    orig_stage = t._stage

    def racing_stage(df, partition_by=None, **kw):
        staged = orig_stage(df, partition_by=partition_by, **kw)
        # concurrent writer lands mid-compaction (during the rewrite job)
        ManagedTable(t.path).write(_df(spark, [(2, "b")]), mode="append")
        return staged

    monkeypatch.setattr(t, "_stage", racing_stage)
    with pytest.raises(CommitConflict):
        t.compact(spark)
    # the concurrent append survived untouched
    assert {(r.id, r.val) for r in t.read(spark).collect()} == {(1, "a"), (2, "b")}


def test_merge_float_key_with_nan_never_pruned(spark, catalog):
    """ADVICE r4: parquet footer min/max EXCLUDE NaN, while Spark join
    keys match NaN = NaN — so stats pruning on a float/double merge key
    could classify a NaN-holding file as disjoint and leave the stale
    NaN row alongside the newly merged one. Float keys never prune."""
    import math

    t = catalog.table("t13")
    nan = float("nan")
    schema = "k double, val string"
    # file A: [1.0, NaN"old"] -> footer stats say [1.0, 1.0]
    t.write(spark.createDataFrame([(1.0, "a"), (nan, "old")], schema)
            .coalesce(1))
    # file B: [5.0] (a second file so pruning has something to skip)
    t.write(spark.createDataFrame([(5.0, "b")], schema).coalesce(1),
            mode="append")
    # source bounds = [2.0, NaN]: under naive pruning smin=2.0 > fmax=1.0
    # would prune file A and orphan its stale NaN row
    t.merge(spark.createDataFrame([(2.0, "two"), (nan, "NEW")], schema),
            keys=["k"])
    rows = t.read(spark).collect()
    nan_rows = [r for r in rows if math.isnan(r.k)]
    assert len(nan_rows) == 1 and nan_rows[0].val == "NEW"
    assert {r.val for r in rows} == {"a", "b", "two", "NEW"}


def test_partitioned_layout_pruned_read_and_merge(spark, catalog):
    """VERDICT r4 #3: Hive/Iceberg-style partition layout. A read with
    a partition predicate lists ONLY that partition's files (manifest
    pruning, no footers opened), and a MERGE against one date partition
    carries every other partition's files into the new manifest with
    unchanged names — untouched, unread, unrewritten."""
    t = catalog.table("t14")
    schema = "id int, day string, val string"
    t.write(spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
         (3, "2024-01-02", "c"), (4, "2024-01-03", "d")], schema),
        partition_by=["day"])
    m = t.manifest()
    assert m["partition_by"] == ["day"]
    assert all(f["name"].startswith("day=") for f in m["files"])
    assert all("partition_values" in f for f in m["files"])

    # pruned read: only the matching partition's files reach the scan
    sub = t.read(spark, partition_filter={"day": "2024-01-02"})
    assert all("day=2024-01-02" in p for p in sub.inputFiles())
    assert {r.id for r in sub.collect()} == {3}
    # list-valued predicate
    two = t.read(spark,
                 partition_filter={"day": ["2024-01-01", "2024-01-03"]})
    assert {r.id for r in two.collect()} == {1, 2, 4}
    with pytest.raises(ValueError, match="non-partition columns"):
        t.read(spark, partition_filter={"val": "a"})
    # partition column is reconstituted from the path on a full read
    full = {(r.id, r.day) for r in t.read(spark).collect()}
    assert full == {(1, "2024-01-01"), (2, "2024-01-01"),
                    (3, "2024-01-02"), (4, "2024-01-03")}

    # MERGE into one partition (partition col ∈ merge keys): every
    # other partition's file survives BY NAME in the new manifest.
    # Note the staged data files do not even contain `day`, so footer
    # stats cannot prune on it — only manifest partition values can,
    # and id=4's file overlaps the source id range [3,9] besides.
    other = {f["name"] for f in m["files"]
             if f["partition_values"]["day"] != "2024-01-02"}
    t.merge(spark.createDataFrame(
        [(3, "2024-01-02", "C*"), (9, "2024-01-02", "new")], schema),
        keys=["id", "day"])
    after = {f["name"] for f in t.manifest()["files"]}
    assert other <= after
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "C*"), (9, "new"), (4, "d")}

    # spec is inherited by later writes and cannot be changed in place
    with pytest.raises(ValueError, match="partitioned by"):
        t.write(spark.createDataFrame([(5, "2024-01-04", "e")], schema),
                mode="append", partition_by=["val"])
    t.write(spark.createDataFrame([(5, "2024-01-04", "e")], schema),
            mode="append")
    assert t.read(
        spark, partition_filter={"day": "2024-01-04"}).count() == 1

    # compact + vacuum keep the partitioned layout intact
    t.compact(spark)
    assert all("partition_values" in f for f in t.manifest()["files"])
    assert {r.id for r in t.read(spark).collect()} == {1, 2, 3, 4, 5, 9}
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert removed
    assert {r.id for r in t.read(spark).collect()} == {1, 2, 3, 4, 5, 9}


def test_incremental_log_checkpointing(spark, catalog):
    """VERDICT r4 #4: commits are incremental add/remove actions with a
    full checkpoint every CHECKPOINT_INTERVAL commits; snapshots resolve
    from the newest checkpoint plus ≤ interval tail actions, and vacuum
    truncates the pre-checkpoint action tail."""
    import json
    import os

    from university_data_lakehouse_spark.tables.format import (
        CHECKPOINT_INTERVAL,
    )

    assert CHECKPOINT_INTERVAL == 10
    t = catalog.table("t16")
    t.write(_df(spark, [(0, "v0")]).coalesce(1))
    for i in range(1, 25):
        t.write(_df(spark, [(i, f"v{i}")]).coalesce(1), mode="append")
    assert t.latest_version() == 25

    # commits are O(changed files): every append action carries exactly
    # one add and no removes, regardless of table size
    with open(os.path.join(t.log_dir, "v00000025.json")) as fh:
        action = json.load(fh)
    assert len(action["add"]) == 1 and action["remove"] == []
    # checkpoints landed on schedule
    assert {c for c in t._checkpoints()} == {10, 20}

    # resolution = checkpoint + tail: delete the actions a checkpoint
    # covers and every version >= the checkpoint still resolves
    for v in range(1, 10):
        os.unlink(os.path.join(t.log_dir, f"v{v:08d}.json"))
    assert len(t.manifest(25)["files"]) == 25
    assert len(t.manifest(10)["files"]) == 10
    assert t.read(spark, version=20).count() == 20
    # ...while versions below the surviving tail correctly refuse
    with pytest.raises(FileNotFoundError):
        t.manifest(5)

    # vacuum truncates the log below the oldest retained version and
    # reads still work from the fresh checkpoint it writes
    t.vacuum(keep_versions=2, min_age_seconds=0)
    assert t._versions()[0] >= 24
    assert min(t._checkpoints()) == 24
    assert t.read(spark).count() == 25
    assert t.read(spark, version=24).count() == 24
    with pytest.raises(FileNotFoundError):
        t.manifest(23)


def test_partition_spec_refuses_float_columns(spark, catalog):
    t = catalog.table("t15")
    with pytest.raises(SchemaMismatch, match="partition source"):
        t.write(spark.createDataFrame([(1.5, "a")], "p double, val string"),
                partition_by=["p"])


def test_clustered_compaction_improves_data_skipping(spark, catalog):
    """compact(cluster_by=...) range-sorts the rewrite so footer
    min/max ranges become near-disjoint: a narrow MERGE that had to
    touch EVERY file (interleaved appends overlap every key slice)
    touches ~one file afterwards — the OPTIMIZE-style maintenance
    payoff, proven by carried-file names in the manifest."""
    t = catalog.table("t18")
    # 4 interleaved appends: every file spans ids [off..396], so all
    # files overlap any key slice
    for off in range(4):
        t.write(_df(spark, [(i, f"v{i}") for i in range(off, 400, 4)])
                .coalesce(1),
                mode="overwrite" if off == 0 else "append")
    before = {f["name"] for f in t.manifest()["files"]}
    assert len(before) == 4
    t.merge(_df(spark, [(5, "X")]), keys=["id"])
    carried = {f["name"] for f in t.manifest()["files"]} & before
    assert carried == set()            # interleaved: nothing skippable

    v = t.compact(spark, target_files=4, cluster_by=["id"])
    clustered = {f["name"] for f in t.manifest(v)["files"]}
    assert len(clustered) == 4
    # clustered ranges are near-disjoint: the same narrow merge now
    # carries all but one file forward untouched
    t.merge(_df(spark, [(7, "Y")]), keys=["id"])
    carried = {f["name"] for f in t.manifest()["files"]} & clustered
    assert len(carried) == 3, (len(carried), len(clustered))
    got = {r.val for r in t.read(spark).where(F.col("id").isin(5, 7))
           .collect()}
    assert got == {"X", "Y"}


def test_read_where_stats_pruned(spark, catalog):
    """read_where skips files whose footer ranges cannot overlap the
    predicate (inputFiles proves it) while returning exactly the rows
    a plain filter would."""
    t = catalog.table("t19")
    t.write(_df(spark, [(i, f"v{i}") for i in range(0, 100)]).coalesce(1))
    t.write(_df(spark, [(i, f"v{i}") for i in range(100, 200)]).coalesce(1),
            mode="append")
    t.write(_df(spark, [(i, f"v{i}") for i in range(200, 300)]).coalesce(1),
            mode="append")
    narrow = t.read_where(spark, {"id": (120, 150)})
    assert len(narrow.inputFiles()) == 1          # two files pruned away
    assert {r.id for r in narrow.collect()} == set(range(120, 151))
    # half-open bounds
    tail = t.read_where(spark, {"id": (250, None)})
    assert len(tail.inputFiles()) == 1
    assert tail.count() == 50
    # unknown ranges (no matching file) -> empty, zero files
    assert t.read_where(spark, {"id": (1000, 2000)}).count() == 0


def test_transform_partitions_hidden_iceberg_style(spark, catalog):
    """Iceberg-style TRANSFORM partitioning: days(ts) + bucket(4, id).
    The source columns stay IN the data files (hidden partitioning —
    only derived values hit the path), reads prune at the manifest on
    transformed predicates, and a MERGE keyed on the source columns
    prunes whole derived partitions."""
    t = catalog.table("t17")
    schema = "id int, ts timestamp, val string"
    rows = [(1, "2024-01-01 05:00:00", "a"), (2, "2024-01-01 09:00:00", "b"),
            (3, "2024-02-03 06:00:00", "c"), (4, "2024-03-05 07:00:00", "d")]
    df = (spark.createDataFrame(rows, "id int, ts string, val string")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    t.write(df, partition_by=["days(ts)", "bucket(4, id)"])
    m = t.manifest()
    assert m["partition_by"] == ["days(ts)", "bucket(4, id)"]
    # hidden: path carries derived dirs, manifest keys by spec string
    assert all(f["name"].startswith("days_ts=") for f in m["files"])
    assert all(set(f["partition_values"]) == {"days(ts)", "bucket(4, id)"}
               for f in m["files"])
    # source columns survived INSIDE the data files (full read needs
    # no path reconstitution for them)
    full = {(r.id, r.val) for r in t.read(spark).collect()}
    assert full == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert t.read(spark).columns == ["id", "ts", "val"]

    # manifest pruning on the transformed value
    sub = t.read(spark, partition_filter={"days(ts)": "2024-01-01"})
    assert all("days_ts=2024-01-01" in p for p in sub.inputFiles())
    assert {r.id for r in sub.collect()} == {1, 2}

    # MERGE keyed on (id, ts): both transform sources ∈ keys, so the
    # 2024-02-03 and 2024-03-05 partitions' files carry over BY NAME
    other = {f["name"] for f in m["files"]
             if f["partition_values"]["days(ts)"] != "2024-01-01"}
    src = (spark.createDataFrame(
        [(1, "2024-01-01 05:00:00", "A*"), (9, "2024-01-01 11:00:00", "new")],
        "id int, ts string, val string")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    t.merge(src, keys=["id", "ts"])
    after = {f["name"] for f in t.manifest()["files"]}
    assert other <= after
    got = {(r.id, r.val) for r in t.read(spark).collect()}
    assert got == {(1, "A*"), (2, "b"), (3, "c"), (4, "d"), (9, "new")}

    # compact preserves the derived layout
    t.compact(spark)
    assert {(r.id, r.val) for r in t.read(spark).collect()} == got
    assert all(f["name"].startswith("days_ts=")
               for f in t.manifest()["files"])


def test_concurrent_writers_with_retry_lose_no_rows(spark, catalog):
    """OCC under real contention: four threads append disjoint row
    sets concurrently through append_with_retry; every committed
    version chain is linear, no thread's rows are lost, and at least
    one genuine conflict-and-retry occurred (else the test proved
    nothing). Also: a merge_with_retry racing an append lands both."""
    import threading

    t = catalog.table("t20")
    t.write(_df(spark, [(0, "seed")]).coalesce(1))
    errs: list[Exception] = []
    barrier = threading.Barrier(4)

    def worker(base: int) -> None:
        try:
            barrier.wait()
            t.append_with_retry(
                _df(spark, [(base + i, f"w{base + i}") for i in range(5)])
                .coalesce(1),
                max_attempts=20,
            )
        except Exception as e:    # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(100 * (k + 1),))
               for k in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    got = {r.id for r in t.read(spark).collect()}
    expect = {0} | {100 * (k + 1) + i for k in range(4) for i in range(5)}
    assert got == expect
    assert t.latest_version() == 5          # seed + 4 linear commits

    # merge retry: stale-snapshot merge retries past a racing append
    # (the racer fires exactly once, so attempt 1 loses and attempt 2
    # wins against the refreshed snapshot)
    snap_merge = _df(spark, [(0, "SEED*"), (999, "new")])
    orig = t._stage
    raced = []

    def racing(df, partition_by=None, **kw):
        staged = orig(df, partition_by=partition_by, **kw)
        if not raced:
            raced.append(True)
            ManagedTable(t.path).write(
                _df(spark, [(777, "racer")]).coalesce(1), mode="append")
        return staged

    t._stage = racing
    try:
        t.merge_with_retry(snap_merge, keys=["id"], max_attempts=5)
    finally:
        t._stage = orig
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[0] == "SEED*" and rows[999] == "new" and rows[777] == "racer"


def test_delete_where_stats_pruned(spark, catalog):
    """Row-level DELETE rewrites only the files whose footer ranges
    overlap the predicate (carried names prove it), removes exactly
    the matching rows, NULL-predicate rows are kept (not-matching),
    and the pre-delete snapshot stays time-travelable."""
    t = catalog.table("t21")
    t.write(_df(spark, [(i, f"v{i}") for i in range(0, 100)]).coalesce(1))
    t.write(_df(spark, [(i, f"v{i}") for i in range(100, 200)]).coalesce(1),
            mode="append")
    t.write(_df(spark, [(i, f"v{i}") for i in range(200, 300)]).coalesce(1),
            mode="append")
    before = {f["name"] for f in t.manifest()["files"]}
    v = t.delete_where(spark, {"id": (120, 150)})
    after = {f["name"] for f in t.manifest(v)["files"]}
    assert len(before & after) == 2           # two files carried untouched
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(0, 120)) | set(range(151, 300))
    # extra predicate composes; time travel to the pre-delete snapshot
    t.delete_where(spark, {"id": (0, 10)},
                   predicate=F.col("val").isin("v3", "v7"))
    assert {r.id for r in t.read(spark).collect() if r.id <= 10} == (
        set(range(0, 11)) - {3, 7})
    assert t.read(spark, version=v - 1).count() == 300


def test_update_where_and_restore(spark, catalog):
    """UPDATE rewrites only overlapping files (carried names prove the
    pruning) and applies set-expressions to matching rows only;
    RESTORE re-references an earlier snapshot as a NEW commit, leaving
    the mistaken history auditable."""
    t = catalog.table("t22")
    t.write(_df(spark, [(i, f"v{i}") for i in range(0, 100)]).coalesce(1))
    t.write(_df(spark, [(i, f"v{i}") for i in range(100, 200)]).coalesce(1),
            mode="append")
    before = {f["name"] for f in t.manifest()["files"]}
    v = t.update_where(spark, {"id": (150, 160)},
                       {"val": F.concat(F.col("val"), F.lit("!"))})
    after = {f["name"] for f in t.manifest(v)["files"]}
    assert len(before & after) == 1            # low file carried untouched
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[155] == "v155!" and rows[149] == "v149" and rows[161] == "v161"
    assert rows[50] == "v50" and len(rows) == 200
    # literal set-expression + extra predicate
    t.update_where(spark, {"id": (0, 5)}, {"val": "ZAP"},
                   predicate=F.col("id") % 2 == 0)
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[2] == "ZAP" and rows[3] == "v3"

    # restore to the pre-update snapshot: new commit, old rows back
    pre = v - 1
    rv = t.restore(spark, pre)
    assert rv == t.latest_version() and rv > v
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[155] == "v155" and rows[2] == "v2" and len(rows) == 200
    assert t.manifest()["operation"] == f"restore[v{pre}]"
    # the mistaken versions remain time-travelable
    assert {r.val for r in t.read(spark, v).collect()
            if r.id == 155} == {"v155!"}


def test_partition_spec_evolution_via_rewrite(spark, catalog):
    """repartition_layout migrates a table to a new partition spec as
    one committed rewrite: later appends inherit the new spec, pruned
    reads work immediately, and prior versions keep the old layout."""
    t = catalog.table("t23")
    schema = "id int, day string, val string"
    t.write(spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")], schema))
    assert t.partition_by() == []

    v = t.repartition_layout(spark, ["day"])
    assert t.partition_by() == ["day"]
    assert t.manifest(v)["operation"] == "repartition[day]"
    sub = t.read(spark, partition_filter={"day": "2024-01-02"})
    assert {r.id for r in sub.collect()} == {2}
    assert all("day=2024-01-02" in p for p in sub.inputFiles())

    # appends inherit the evolved spec with no explicit partition_by
    t.write(spark.createDataFrame([(3, "2024-01-03", "c")], schema),
            mode="append")
    assert t.read(
        spark, partition_filter={"day": "2024-01-03"}).count() == 1
    # the pre-evolution version still reads with its old (flat) layout
    assert t.read(spark, version=1).count() == 2
    # and evolution back to unpartitioned also works
    t.repartition_layout(spark, None)
    assert t.partition_by() == []
    assert t.read(spark).count() == 3


def test_merge_schema_evolution(spark, catalog):
    """evolve=True MERGE (Delta autoMerge): the source may ADD columns
    — existing rows and stats-carried files null-fill them through the
    evolved manifest schema — while type changes stay refused and the
    default merge still rejects drift."""
    t = catalog.table("t24")
    t.write(_df(spark, [(i, f"v{i}") for i in range(0, 50)]).coalesce(1))
    t.write(_df(spark, [(i, f"v{i}") for i in range(100, 150)]).coalesce(1),
            mode="append")
    # source keys {10, 45} stay inside the first file's id range, so
    # the [100,150) file is stats-prunable throughout
    src = spark.createDataFrame(
        [Row(id=10, val="TEN", score=0.9), Row(id=45, val="new45", score=0.5)])
    # default merge projects to the TABLE schema (extra source columns
    # dropped, no evolution)
    t.merge(src, keys=["id"])
    assert "score" not in t.read(spark).columns
    before = {f["name"] for f in t.manifest()["files"]}
    t.merge(src, keys=["id"], evolve=True)
    # the disjoint-range file carried untouched through the evolution
    assert len(before & {f["name"] for f in t.manifest()["files"]}) == 1
    rows = {r.id: (r.val, r.score) for r in t.read(spark).collect()}
    assert rows[10] == ("TEN", 0.9) and rows[45] == ("new45", 0.5)
    assert rows[5] == ("v5", None)                # old row null-fills
    assert rows[120] == ("v120", None)            # carried file null-fills
    assert len(rows) == 100
    # later non-evolve merges use the evolved schema
    t.merge(spark.createDataFrame([Row(id=10, val="X", score=1.0)]),
            keys=["id"])
    assert {r.score for r in t.read(spark).where("id = 10").collect()} == {1.0}
    # type change is still refused even with evolve
    with pytest.raises(SchemaMismatch):
        t.merge(spark.createDataFrame([Row(id=1, val=2, score=0.1)]),
                keys=["id"], evolve=True)


def test_compact_zorder_prunes_every_dimension(spark, catalog):
    """Z-order compaction: after rewriting on the bit-interleaved
    curve, footer-stats skipping prunes file lists on BOTH cluster
    dimensions — the property linear cluster_by only gives the
    leading column — while the row set is unchanged."""
    t = catalog.table("tz")
    df = spark.range(20000).select(
        (F.col("id") % 100).cast("int").alias("x"),
        ((F.col("id") * 7919) % 100).cast("int").alias("y"),
        F.col("id").alias("payload"),
    )
    t.write(df.repartition(16))
    total_before = len(t.manifest()["files"])
    # interleaved writes: a narrow slice on either dim prunes nothing
    assert len(t.candidate_files({"x": (10, 14)})) == total_before
    assert len(t.candidate_files({"y": (10, 14)})) == total_before

    with pytest.raises(ValueError):
        t.compact(spark, cluster_by=["x"], zorder_by=["y"])
    t.compact(spark, target_files=16, zorder_by=["x", "y"])
    total = len(t.manifest()["files"])
    assert total >= 8  # the range shuffle actually spread the curve
    after_x = len(t.candidate_files({"x": (10, 14)}))
    after_y = len(t.candidate_files({"y": (10, 14)}))
    # a 5%-wide slab on EITHER dimension now skips at least half
    assert after_x <= total // 2, (after_x, total)
    assert after_y <= total // 2, (after_y, total)
    # row set identical and the narrow read returns exact results
    assert t.read(spark).count() == 20000
    got = t.read_where(spark, {"x": (10, 14)}).groupBy().count().collect()
    assert got[0][0] == 20000 // 100 * 5


def test_compact_zorder_refuses_string_columns(spark, catalog):
    t = catalog.table("tzs")
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    with pytest.raises(ValueError, match="unsupported type"):
        t.compact(spark, zorder_by=["val"])


def test_incremental_gold_order_metrics(spark, sf_dir, catalog, tmp_path):
    """Incremental gold maintenance: two order-slice ticks (bootstrap
    + merge of decimal-sum partials and HLL sketch unions) produce the
    SAME finalized metrics as one tick over everything, the exact
    algebraic measures match the batch gold operator bit-for-bit, and
    the sketch estimates land within HLL error of the exact distincts.
    The pre-merge state stays time-travelable."""
    from university_data_lakehouse_spark.operators.gold import (
        gold_order_metrics,
    )
    from university_data_lakehouse_spark.plans.medallion import (
        finalize_order_metrics,
        incremental_order_metrics,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    mid = (load_mid := spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet"))
        .agg(F.max("o_orderkey")).collect()[0][0]) // 2
    assert load_mid > 0

    one_shot = TableCatalog(str(tmp_path / "wh_oneshot"))
    assert incremental_order_metrics(spark, sf_dir, one_shot) == 1
    expected = {tuple(r) for r in
                finalize_order_metrics(spark, one_shot).collect()}

    assert incremental_order_metrics(
        spark, sf_dir, catalog, until_orderkey=mid) == 1     # bootstrap
    assert incremental_order_metrics(
        spark, sf_dir, catalog, since_orderkey=mid) == 2     # merge tick
    got = {tuple(r) for r in finalize_order_metrics(spark, catalog).collect()}
    assert got == expected

    # exact algebraic measures == the batch gold operator, bit-for-bit
    batch = {(r.order_year, r.segment, r.status):
             (r.total_qty, r.avg_acctbal, r.total_customers)
             for r in gold_order_metrics(spark, sf_dir).collect()}
    inc = {(r.order_year, r.segment, r.status):
           (r.total_qty, r.avg_acctbal, r.total_customers)
           for r in finalize_order_metrics(spark, catalog).collect()}
    assert set(batch) == set(inc)
    for k, (qty, bal, exact_cust) in batch.items():
        iqty, ibal, est_cust = inc[k]
        assert iqty == qty and ibal == bal, k
        assert abs(est_cust - exact_cust) <= max(3, 0.05 * exact_cust), k

    # time travel: the bootstrap-only state is still readable
    v1 = {tuple(r) for r in
          finalize_order_metrics(spark, catalog, version=1).collect()}
    assert v1 != got and len(v1) > 0


def test_check_constraints_gate_every_write_path(spark, catalog):
    """Delta CHECK-constraint parity: constraints set at create gate
    write, merge, and update; NULL predicates pass (SQL-standard
    UNKNOWN); add_check_constraint validates existing data first;
    drop lifts the gate; both are metadata-only commits."""
    from university_data_lakehouse_spark.tables import ConstraintViolation

    t = catalog.table("tc")
    t.write(_df(spark, [(1, "a")]), constraints={"pos_id": "id > 0"})
    with pytest.raises(ConstraintViolation, match="pos_id"):
        t.write(_df(spark, [(-5, "x")]), mode="append")
    with pytest.raises(ConstraintViolation):
        t.merge(_df(spark, [(-7, "y")]), keys=["id"])
    t.write(_df(spark, [(2, "b")]), mode="append")   # passes the gate

    # NULL evaluates UNKNOWN -> passes (SQL standard)
    t2 = catalog.table("tc2")
    t2.write(spark.createDataFrame([Row(id=1, v=None)],
                                   schema="id int, v string"),
             constraints={"v_short": "length(v) < 5"})

    # adding a constraint the CURRENT data violates is refused
    with pytest.raises(ConstraintViolation):
        t.add_check_constraint(spark, "tiny", "id < 2")
    v = t.add_check_constraint(spark, "val_nonempty", "length(val) > 0")
    assert t.manifest()["operation"] == "add_constraint"
    assert t.read(spark).count() == 2          # metadata-only commit
    with pytest.raises(ConstraintViolation, match="val_nonempty"):
        t.write(_df(spark, [(3, "")]), mode="append")
    t.drop_check_constraint("val_nonempty")
    t.write(_df(spark, [(3, "")]), mode="append")  # gate lifted
    assert t.check_constraints() == {"pos_id": "id > 0"}
    # constraints survive a rewrite (merge carries them forward)
    t.merge(_df(spark, [(4, "d")]), keys=["id"])
    assert t.check_constraints(version=t.latest_version()) == {
        "pos_id": "id > 0"}
    assert v >= 1


def test_changes_between_append_fast_path_and_diff(spark, catalog):
    """CDF parity: append-only ranges read ONLY the added files with
    per-commit versions; ranges containing rewrites diff the
    snapshots by key into insert/update_postimage/delete."""
    t = catalog.table("tcdc")
    t.write(_df(spark, [(1, "a"), (2, "b")]))                  # v1
    t.write(_df(spark, [(3, "c")]), mode="append")             # v2
    t.write(_df(spark, [(4, "d")]), mode="append")             # v3
    fast = t.changes_between(spark, 1).collect()
    assert {(r.id, r._change_type, r._commit_version) for r in fast} == {
        (3, "insert", 2), (4, "insert", 3)}

    t.merge(_df(spark, [(2, "B*"), (5, "e")]), keys=["id"])    # v4 rewrite
    t.delete_where(spark, {"id": (1, 1)})                      # v5
    with pytest.raises(ValueError, match="keys"):
        t.changes_between(spark, 3)
    diff = {(r.id, r.val, r._change_type)
            for r in t.changes_between(spark, 3, keys=["id"]).collect()}
    assert diff == {(2, "B*", "update_postimage"),
                    (5, "e", "insert"),
                    (1, "a", "delete")}
    # empty range -> empty frame with the CDF schema
    none = t.changes_between(spark, t.latest_version())
    assert none.count() == 0 and "_change_type" in none.columns


def test_maybe_compact_small_files_policy(spark, catalog):
    """Auto-compaction: a no-op below the file-count threshold, a
    bin-pack above it — callable every ingest cycle for free."""
    t = catalog.table("tac")
    for i in range(4):
        t.write(_df(spark, [(i, "x")]).repartition(1),
                mode="append" if i else "overwrite")
    assert len(t.manifest()["files"]) == 4
    assert t.maybe_compact(spark, max_files=8) is None      # under: no-op
    v = t.maybe_compact(spark, max_files=3, target_files=1)
    assert v == t.latest_version()
    assert len(t.manifest()["files"]) == 1
    assert t.read(spark).count() == 4
    assert t.maybe_compact(spark, max_files=3) is None      # now compact


def test_scd2_history_and_point_in_time(spark, catalog):
    """SCD Type 2 over MERGE: a changed key closes its current
    version and opens a new one, unchanged keys keep their original
    effective_from, new keys bootstrap open, and the as-of view
    reconstructs the dimension at any timestamp."""
    from university_data_lakehouse_spark.tables.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_current,
    )

    t = catalog.table("dim_scd")

    def mk(rows):
        return spark.createDataFrame(
            [Row(id=i, name=n, tier=tr) for i, n, tr in rows])

    scd2_apply(t, mk([(1, "ann", "gold"), (2, "bob", "silver")]),
               keys=["id"], tracked=["tier"], effective_ts="2024-01-01")
    scd2_apply(t, mk([(1, "ann", "platinum"),      # tier changed
                      (2, "bob", "silver"),        # unchanged
                      (3, "eve", "bronze")]),      # new key
               keys=["id"], tracked=["tier"], effective_ts="2024-02-01")

    rows = {(r.id, str(r.effective_from)[:10], str(r.effective_to)[:10]
             if r.effective_to else None, r.is_current, r.tier)
            for r in t.read(spark).collect()}
    assert rows == {
        (1, "2024-01-01", "2024-02-01", False, "gold"),
        (1, "2024-02-01", None, True, "platinum"),
        (2, "2024-01-01", None, True, "silver"),
        (3, "2024-02-01", None, True, "bronze"),
    }
    cur = {(r.id, r.tier) for r in scd2_current(spark, t).collect()}
    assert cur == {(1, "platinum"), (2, "silver"), (3, "bronze")}
    asof = {(r.id, r.tier)
            for r in scd2_as_of(spark, t, "2024-01-15").collect()}
    assert asof == {(1, "gold"), (2, "silver")}
    # an all-unchanged tick commits nothing
    v = t.latest_version()
    scd2_apply(t, mk([(2, "bob", "silver")]),
               keys=["id"], tracked=["tier"], effective_ts="2024-03-01")
    assert t.latest_version() == v


def test_row_count_from_manifest_metadata(spark, catalog):
    """COUNT(*) answered from the manifest alone — parquet footer row
    counts recorded at stage time sum across appends, merges, and
    deletes without opening a single data file."""
    t = catalog.table("trc")
    t.write(_df(spark, [(1, "a"), (2, "b")]))
    t.write(_df(spark, [(3, "c")]), mode="append")
    assert t.row_count() == 3 == t.read(spark).count()
    t.merge(_df(spark, [(3, "C*"), (4, "d")]), keys=["id"])
    assert t.row_count() == 4 == t.read(spark).count()
    t.delete_where(spark, {"id": (1, 1)})
    assert t.row_count() == 3 == t.read(spark).count()
    assert t.row_count(version=1) == 2     # time-travel counts too


def test_bloom_filter_columns_written_and_inherited(spark, catalog):
    """Declared bloom-filter columns produce parquet bloom filters in
    every staged file (pyarrow 16 doesn't expose bloom metadata, so
    verified by the filter's deterministic size footprint vs a
    bloom-less twin of the same data), and the property survives
    appends, merges, repartitioning, and constraint-metadata
    commits."""

    def data_bytes(table):
        return sum(f["bytes"] for f in table.manifest()["files"])

    rows = [(i, f"v{i}") for i in range(50)]
    plain = catalog.table("tbf_plain")
    plain.write(_df(spark, rows).coalesce(1))
    t = catalog.table("tbf")
    t.write(_df(spark, rows).coalesce(1), bloom_filter_columns=["val"])
    assert t.bloom_filter_columns() == ["val"]
    # ~100k-NDV bloom ≈ 100+ KB per file vs a few KB of data
    assert data_bytes(t) > data_bytes(plain) + 50_000

    t.merge(_df(spark, [(2, "B*")]), keys=["id"])     # carried by rewrite
    assert data_bytes(t) > data_bytes(plain) + 50_000
    t.add_check_constraint(spark, "pos", "id >= 0")   # metadata commit
    assert t.bloom_filter_columns() == ["val"]
    t.repartition_layout(spark, [])                   # layout rewrite
    assert t.bloom_filter_columns() == ["val"]
    assert t.check_constraints() == {"pos": "id >= 0"}
    assert data_bytes(t) > data_bytes(plain) + 50_000


# ---------------------------------------------------------- deletion vectors


def test_delete_mor_reads_without_rewrite(spark, catalog):
    """Merge-on-read DELETE: the data files' bytes stay untouched (no
    rewrite), a deletion-vector sidecar lands, and every reader sees
    the post-delete rows; time travel to the pre-delete version still
    shows everything; row_count() stays metadata-only and correct."""
    t = catalog.table("mor1")
    v1 = t.write(_df(spark, [(i, f"v{i}") for i in range(10)]))
    before = {f["name"] for f in t.manifest(v1)["files"]}
    v2 = t.delete_where(spark, {"id": (3, 5)}, merge_on_read=True)
    after = {f["name"] for f in t.manifest(v2)["files"]}
    assert after == before                       # same data files
    assert any(f.get("dv") for f in t.manifest(v2)["files"])
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [0, 1, 2, 6, 7, 8, 9]
    assert t.row_count() == 7                    # manifest-only count
    assert sorted(r.id for r in t.read(spark, v1).collect()) == list(range(10))
    assert t.manifest(v2)["operation"] == "delete[mor]"


def test_delete_mor_stacks_and_is_idempotent(spark, catalog):
    """A second MoR delete stacks its vector; re-deleting an
    already-deleted range commits nothing new (no-op, no version)."""
    t = catalog.table("mor2")
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]))
    v2 = t.delete_where(spark, {"id": (0, 1)}, merge_on_read=True)
    v3 = t.delete_where(spark, {"id": (8, 9)}, merge_on_read=True)
    assert v3 == v2 + 1
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 4, 5, 6, 7]
    assert t.row_count() == 6
    v4 = t.delete_where(spark, {"id": (0, 1)}, merge_on_read=True)
    assert v4 == v3                               # nothing newly deleted
    assert t.row_count() == 6


def test_delete_mor_compact_materializes_and_vacuum_keeps_live_dv(
        spark, catalog):
    """compact() materializes the deletes (new entries carry no
    vectors) and a later vacuum may drop the orphaned DV files — but
    NEVER a vector still referenced by a retained manifest."""
    t = catalog.table("mor3")
    t.write(_df(spark, [(i, f"v{i}") for i in range(10)]))
    v2 = t.delete_where(spark, {"id": (3, 5)}, merge_on_read=True)
    dv_files = {n for f in t.manifest(v2)["files"]
                for d in (f.get("dv") or []) for n in d["files"]}
    assert dv_files
    # vacuum with the DV version retained: vectors must survive
    t.vacuum(keep_versions=10, min_age_seconds=0)
    for n in dv_files:
        assert os.path.isfile(os.path.join(t.data_dir, n)), n
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 6, 7, 8, 9]
    v3 = t.compact(spark)
    assert not any(f.get("dv") for f in t.manifest(v3)["files"])
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 6, 7, 8, 9]
    assert t.row_count() == 7
    # now only the compacted version is retained: orphaned DVs go
    removed = t.vacuum(keep_versions=1, min_age_seconds=0)
    assert dv_files <= set(removed)


def test_delete_mor_feeds_merge_and_cdf(spark, catalog):
    """MoR-deleted rows are invisible to MERGE (no resurrection) and
    the change feed classifies the MoR commit as deletes via the
    keyed diff (it rewrote no bytes but is NOT append-only)."""
    t = catalog.table("mor4")
    t.write(_df(spark, [(i, f"v{i}") for i in range(6)]))
    v2 = t.delete_where(spark, {"id": (2, 3)}, merge_on_read=True)
    ch = t.changes_between(spark, v2 - 1, v2, keys=["id"])
    got = {(r.id, r._change_type) for r in ch.collect()}
    assert got == {(2, "delete"), (3, "delete")}
    t.merge(_df(spark, [(2, "NEW")]), keys=["id"])
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[2] == "NEW" and 3 not in rows
    assert len(rows) == 5


def test_update_mor_dv_plus_postimage(spark, catalog):
    """Merge-on-read UPDATE: old positions go into a deletion vector,
    post-image rows land in NEW appended files; readers see updated
    values, time travel sees originals, row_count stays exact, and a
    CHECK constraint still gates the post-image."""
    from university_data_lakehouse_spark.tables.format import (
        ConstraintViolation,
    )

    t = catalog.table("mor5")
    t.write(_df(spark, [(i, f"v{i}") for i in range(6)]),
            constraints={"val_set": "val IS NOT NULL"})
    v1 = t.latest_version()
    before = {f["name"] for f in t.manifest(v1)["files"]}
    v2 = t.update_where(spark, {"id": (2, 3)}, {"val": "UPDATED"},
                        merge_on_read=True)
    m2 = t.manifest(v2)
    assert m2["operation"] == "update[mor]"
    assert before <= {f["name"] for f in m2["files"]}    # originals kept
    assert len(m2["files"]) > len(before)                # + post-image
    rows = {r.id: r.val for r in t.read(spark).collect()}
    assert rows[2] == rows[3] == "UPDATED" and rows[1] == "v1"
    assert len(rows) == 6 and t.row_count() == 6
    old = {r.id: r.val for r in t.read(spark, v1).collect()}
    assert old[2] == "v2"
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, {"id": (4, 4)}, {"val": None},
                       merge_on_read=True)


def test_delete_mor_empty_touched_returns_pinned_version(spark, catalog):
    """r6 ADVICE (format.py _delete_mor): when footer-stats pruning
    touches ZERO files, the no-op must return the PINNED snapshot
    version — not a latest_version() re-read that could surface a
    concurrent commit the delete never observed."""
    t = catalog.table("mor_noop")
    v1 = t.write(_df(spark, [(i, f"v{i}") for i in range(10)]))
    # range far outside footer stats: prunes every file -> empty touched
    v = t.delete_where(spark, {"id": (1000, 2000)}, merge_on_read=True)
    assert v == v1
    assert t.row_count() == 10


def test_merge_partition_prune_collect_capped(spark, catalog, monkeypatch):
    """r6 VERDICT #3 (format.py MERGE): the driver-side collect of the
    source's distinct partition tuples is capped — above
    MERGE_PRUNE_MAX_PARTITIONS the merge must SKIP partition pruning
    (no unbounded collect) yet produce identical results; below the
    cap the untouched partition's file survives by name."""
    from university_data_lakehouse_spark.tables import format as fmt

    schema = "id int, day string, val string"
    rows = [(1, "2024-01-01", "a"), (2, "2024-01-02", "b"),
            (3, "2024-01-03", "c")]
    src_rows = [(2, "2024-01-02", "B*"), (9, "2024-01-02", "new")]

    t1 = catalog.table("prune_cap_lo")
    t1.write(spark.createDataFrame(rows, schema), partition_by=["day"])
    keep = {f["name"] for f in t1.manifest()["files"]
            if f["partition_values"]["day"] == "2024-01-01"}
    t1.merge(spark.createDataFrame(src_rows, schema), keys=["id", "day"])
    assert keep <= {f["name"] for f in t1.manifest()["files"]}
    expect = {(1, "a"), (2, "B*"), (3, "c"), (9, "new")}
    assert {(r.id, r.val) for r in t1.read(spark).collect()} == expect

    # force the fallback: every distinct-partition sample exceeds cap
    monkeypatch.setattr(fmt, "MERGE_PRUNE_MAX_PARTITIONS", 0)
    t2 = catalog.table("prune_cap_hi")
    t2.write(spark.createDataFrame(rows, schema), partition_by=["day"])
    t2.merge(spark.createDataFrame(src_rows, schema), keys=["id", "day"])
    assert {(r.id, r.val) for r in t2.read(spark).collect()} == expect


def test_compaction_under_concurrent_change_feed(spark, catalog,
                                                 tmp_path, monkeypatch):
    """r11 (VERDICT item 3b): the OCC surface crossed with the change
    feed. A CDF consumer ticks across interleaved appends and
    compactions:

      - a compact-only range is LAYOUT-ONLY to CDF — the keyed diff
        yields zero row changes, never phantom inserts/deletes for
        the rewritten rows;
      - a range mixing an append with a compaction delivers exactly
        the appended rows;
      - a compaction LOSING the OCC race to a concurrent append
        (maybe_compact -> None) leaves the feed consistent: the
        racing append is delivered exactly once;
      - a poll-process-crash-replay around a compaction re-delivers
        idempotently (keyed MERGE absorbs it).

    End state: the downstream mirror equals the source exactly."""
    from university_data_lakehouse_spark.streaming.source import (
        TableChangeFeed,
    )

    src, dst = catalog.table("cdc_src"), catalog.table("cdc_dst")
    feed = TableChangeFeed(src, str(tmp_path / "chk"), keys=["id"])
    content = lambda t: {(r.id, r.val) for r in t.read(spark).collect()}

    def tick(expect_types=None, expect_ids=None):
        df, target = feed.poll(spark)
        if df is None:
            return None, target
        rows = df.collect()
        if expect_types is not None:
            assert {r["_change_type"] for r in rows} <= expect_types
        if expect_ids is not None:
            assert {r["id"] for r in rows} == expect_ids
        ups = df.where("_change_type <> 'delete'").drop(
            "_change_type", "_commit_version")
        if not dst.exists():
            dst.write(ups)
        elif not ups.isEmpty():
            dst.merge(ups, keys=["id"])
        feed.commit(target)
        return rows, target

    # v1: seed in several files so compaction has work to do
    src.write(_df(spark, [(i, f"r{i}") for i in range(10)]).repartition(4))
    _, t1 = tick(expect_ids=set(range(10)))
    assert t1 == 1 and content(dst) == content(src)

    # v2 append + v3 compact in ONE tick: keyed diff must surface
    # exactly the appended rows, nothing from the rewrite
    src.write(_df(spark, [(i, f"r{i}") for i in range(10, 15)])
              .repartition(2), mode="append")
    n_files_before = len(src.manifest()["files"])
    assert src.compact(spark) == 3
    assert len(src.manifest()["files"]) < n_files_before
    rows, t3 = tick(expect_types={"insert", "update_postimage"},
                    expect_ids=set(range(10, 15)))
    assert t3 == 3 and content(dst) == content(src)

    # v4: compact-only range -> zero row changes, cursor still moves
    assert src.compact(spark, target_files=2) == 4
    rows, t4 = tick()
    assert t4 == 4 and rows == []
    assert feed.cursor() == 4

    # v5: compaction loses the OCC race to a concurrent append —
    # maintenance skips (None), the append is delivered exactly once
    orig_stage = src._stage

    def racing_stage(df, partition_by=None, **kw):
        staged = orig_stage(df, partition_by=partition_by, **kw)
        ManagedTable(src.path).write(
            _df(spark, [(15, "race")]).coalesce(1), mode="append")
        return staged

    monkeypatch.setattr(src, "_stage", racing_stage)
    assert src.maybe_compact(spark, max_files=0) is None
    monkeypatch.setattr(src, "_stage", orig_stage)
    assert src.latest_version() == 5          # only the racer landed
    rows, t5 = tick(expect_types={"insert"}, expect_ids={15})
    assert t5 == 5 and content(dst) == content(src)

    # v6 compact + crash-replay: poll twice without committing the
    # cursor in between — the keyed MERGE absorbs the re-delivery
    assert src.compact(spark) == 6
    df_a, target_a = feed.poll(spark)          # "crash" after this
    df_b, target_b = feed.poll(spark)          # replayed range
    assert target_a == target_b == 6
    assert df_a.count() == df_b.count() == 0
    feed.commit(target_b)

    assert content(dst) == content(src) == (
        {(i, f"r{i}") for i in range(15)} | {(15, "race")})
    assert dst.read(spark).count() == 16       # no duplicate deliveries


# ------------------------------------------------------ one publish path

_ACTION_KEYS = {"version", "ts", "operation", "schema", "partition_by",
                "constraints", "bloom_filters", "add", "remove"}


def _meta_table(spark, catalog, name):
    """A table with every piece of metadata a commit must carry: a
    partition spec, a CHECK constraint and a bloom-filter column."""
    t = catalog.table(name)
    t.write(_day_df(spark, range(6)), partition_by=["day"],
            constraints={"pos": "id >= 0"}, bloom_filter_columns=["id"])
    return t


def _day_df(spark, ids, val="v"):
    return spark.createDataFrame(
        [Row(id=i, day=f"d{i % 2}", val=f"{val}{i}") for i in ids])


def _restore_after_drop(spark, t):
    t.drop_check_constraint("pos")
    return t.restore(spark, 1)


_BASE_META = {"partition_by": ["day"], "constraints": {"pos": "id >= 0"},
              "bloom_filters": ["id"]}

_VERBS = {
    "overwrite": (lambda s, t: t.write(_day_df(s, [7])), {}),
    "append": (lambda s, t: t.write(_day_df(s, [7]), mode="append"), {}),
    "merge": (lambda s, t: t.merge(_day_df(s, [1, 9], "m"), keys=["id"]), {}),
    "merge_delete_unmatched": (
        lambda s, t: t.merge(_day_df(s, [1, 9], "m"), keys=["id"],
                             when_not_matched_by_source="delete"), {}),
    "delete_cow": (lambda s, t: t.delete_where(s, {"id": (1, 2)}), {}),
    "delete_mor": (lambda s, t: t.delete_where(s, {"id": (1, 2)},
                                               merge_on_read=True), {}),
    "update_cow": (lambda s, t: t.update_where(s, {"id": (1, 2)},
                                               {"val": "u"}), {}),
    "update_mor": (lambda s, t: t.update_where(s, {"id": (1, 2)},
                                               {"val": "u"},
                                               merge_on_read=True), {}),
    "compact": (lambda s, t: t.compact(s), {}),
    "repartition_layout": (lambda s, t: t.repartition_layout(s, None),
                           {"partition_by": []}),
    "add_constraint": (
        lambda s, t: t.add_check_constraint(s, "short", "length(val) < 9"),
        {"constraints": {"pos": "id >= 0", "short": "length(val) < 9"}}),
    "drop_constraint": (lambda s, t: t.drop_check_constraint("pos"),
                        {"constraints": {}}),
    "restore": (_restore_after_drop, {}),
}


@pytest.mark.parametrize("verb", list(_VERBS))
def test_every_verb_commits_the_full_metadata(spark, catalog, verb):
    """Every mutating verb publishes through one action builder: each
    action it commits carries the whole metadata key set, and the
    resolved snapshot keeps the partition spec, constraints and bloom
    columns unless the verb is the one that changes them."""
    import json

    run, changed = _VERBS[verb]
    t = _meta_table(spark, catalog, f"tv_{verb}")
    v = run(spark, t)
    assert v == t.latest_version() > 1
    for n in range(2, v + 1):
        with open(os.path.join(t.log_dir, f"v{n:08d}.json")) as fh:
            assert set(json.load(fh)) == _ACTION_KEYS
    m = t.manifest()
    assert {k: m[k] for k in _BASE_META} == {**_BASE_META, **changed}
    assert t.read(spark).count() >= 1


_RESOLVING_OPS = {
    "write_overwrite": (lambda s, t: t.write(_day_df(s, [7])), 2),
    "write_append": (lambda s, t: t.write(_day_df(s, [7]), mode="append"), 1),
    **{name: (run, 1) for name, (run, _) in _VERBS.items()
       if name not in ("overwrite", "append", "restore")},
    "read_where": (lambda s, t: t.read_where(s, {"id": (1, 2)}), 1),
    "row_count": (lambda s, t: t.row_count(), 1),
}


@pytest.mark.parametrize("op", list(_RESOLVING_OPS))
def test_each_operation_resolves_its_snapshot_once(spark, catalog,
                                                   monkeypatch, op):
    """``manifest`` is the only reader of the log, and an operation
    resolves its snapshot once and passes it down: an overwrite may
    re-resolve the head it replaces at commit time, nothing else
    resolves twice."""
    run, budget = _RESOLVING_OPS[op]
    t = _meta_table(spark, catalog, f"tr_{op}")
    t.write(_day_df(spark, [6]), mode="append")     # a 2-version table
    calls = []
    real = ManagedTable.manifest

    def counting(self, version=None):
        calls.append(version)
        return real(self, version)

    monkeypatch.setattr(ManagedTable, "manifest", counting)
    run(spark, t)
    assert 1 <= len(calls) <= budget, calls


def test_restore_brings_back_constraints_and_bloom_filters(spark, catalog):
    """RESTORE re-installs the whole metadata of the restored version,
    not only its schema and partition spec: a CHECK constraint dropped
    after it gates writes again, and its bloom columns come back."""
    from university_data_lakehouse_spark.tables import ConstraintViolation

    t = catalog.table("t_restore_meta")
    v1 = t.write(_df(spark, [(1, "a")]), constraints={"pos": "id > 0"},
                 bloom_filter_columns=["val"])
    t.drop_check_constraint("pos")
    t.write(_df(spark, [(-1, "neg")]), mode="append")   # gate lifted
    t.restore(spark, v1)
    assert t.check_constraints() == {"pos": "id > 0"}
    assert t.bloom_filter_columns() == ["val"]
    with pytest.raises(ConstraintViolation, match="pos"):
        t.write(_df(spark, [(-5, "x")]), mode="append")
    assert {r.id for r in t.read(spark).collect()} == {1}


def test_unreadable_checkpoint_is_skipped_and_torn_action_is_named(
        spark, catalog):
    """A checkpoint is a cache of the action log: a zero-byte one is
    skipped for an older checkpoint (or a replay from v1) and replaced
    by the next checkpoint write. A torn action file has no fallback
    and raises CorruptLogError naming the file."""
    import json

    from university_data_lakehouse_spark.tables import CorruptLogError

    t = catalog.table("t_ckpt_cache")
    t.write(_df(spark, [(0, "v0")]).coalesce(1))
    for i in range(1, 11):
        t.write(_df(spark, [(i, f"v{i}")]).coalesce(1), mode="append")
    assert t.latest_version() == 11 and t._checkpoints() == [10]
    ckpt = os.path.join(t.log_dir, "v00000010.checkpoint.json")
    open(ckpt, "w").close()
    assert t.read(spark).count() == 11           # replayed from v1
    assert t.row_count(version=10) == 10

    # an older readable checkpoint is the fallback once v1.. are gone
    t._write_checkpoint(5)
    for v in range(1, 5):
        os.unlink(os.path.join(t.log_dir, f"v{v:08d}.json"))
    assert t.read(spark).count() == 11
    t._write_checkpoint(10)                      # replaces the torn cache
    with open(ckpt) as fh:
        assert len(json.load(fh)["files"]) == 10

    open(os.path.join(t.log_dir, "v00000011.json"), "w").close()
    with pytest.raises(CorruptLogError, match="v00000011.json"):
        t.read(spark)
    with pytest.raises(FileNotFoundError):       # vacuumed stays missing
        t.manifest(3)


def test_commit_fsyncs_file_before_link_and_directory_after(
        spark, catalog, monkeypatch):
    """A commit is durable: the action's bytes are fsynced before its
    name is linked into the log, and the log directory after."""
    import stat

    t = catalog.table("t_fsync")
    t.write(_df(spark, [(1, "a")]))
    events = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        events.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode)
                      else "file")
        real_fsync(fd)

    def link(src, dst):
        events.append("link")
        real_link(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    assert t.restore(spark, 1) == 2               # a metadata-only commit
    assert events == ["file", "link", "dir"]
