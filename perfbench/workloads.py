"""The benchmark's three closed-loop workloads (one client, one driver
process). Each ``run_*`` repeats whole passes until ``seconds`` have
elapsed, always finishing the pass it is in, and returns a
:class:`Result` holding per-operation latencies, per-pass wall times,
row counts and every correctness verdict.

- ``medallion``: one pass = ``medallion_graph().materialize`` into a
  fresh ``TableCatalog`` (16 assets, their blocking checks, 16
  overwrite commits), then a sensor tick: new and changed lineitem
  rows land as a file, ``merge_into_table`` drains them into
  ``bronze/lineitem`` and ``read_where`` reads the new keys back. One
  operation = one pass.
- ``query_mix``: one pass = every key of the frozen query list, in a
  seed-shuffled order; one operation = build the DataFrame, then
  ``count()`` it; ``clearCache()`` between keys.
- ``incremental_ticks``: one pass = a fresh warehouse fed by the
  frozen slice plan, one tick per slice; one operation = one tick
  (land → streaming MERGE drain → ``incremental_order_metrics`` →
  ``gated_corpus_tick`` → read-back).
"""

from __future__ import annotations

import contextlib
import dataclasses
import importlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

PKG = "university_data_lakehouse_spark"
OPERATOR_MODULES = ("silver", "gold", "olap", "events", "dedup",
                    "similarity", "text", "multimodal", "quality",
                    "pipeline")
_BRONZE_SOURCES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem")


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    pass_times: list[float] = field(default_factory=list)
    materialize_s: list[float] = field(default_factory=list)
    rows: int = 0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    # per-layer values measured outside spans (counts, ratios), summed
    # over passes
    extra: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def add(self, name: str, value: float) -> None:
        self.extra[name] = self.extra.get(name, 0.0) + value


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    seconds: float
    expected: dict          # expected.json
    scale: dict             # expected.json["scales"][<scale>]
    tracer: object = None   # spans.Tracer when traced


def operator_module(name: str):
    return importlib.import_module(f"{PKG}.operators.{name}")


def import_layers() -> None:
    """Import every module the workloads call, so import time is not
    charged to the first measured operation."""
    for m in OPERATOR_MODULES:
        operator_module(m)
    for m in ("plans.medallion", "plans.corpus", "streaming.sink",
              "streaming.dedupe", "tables", "sources.loader"):
        importlib.import_module(f"{PKG}.{m}")


def _span(ctx: Context, name: str, group: str | None = None):
    if ctx.tracer is None:
        return contextlib.nullcontext()
    return ctx.tracer.span(name, group)


def _done(t_start: float, seconds: float) -> bool:
    return time.perf_counter() - t_start >= seconds


# ------------------------------------------------------------ query_mix


def run_query_mix(ctx: Context) -> Result:
    spark = ctx.spark
    keys = ctx.expected["query_mix"]["keys"]          # key -> module
    want = ctx.scale["query_rows"]
    fns = {k: operator_module(m).QUERIES[k] for k, m in keys.items()}
    rng = random.Random(ctx.seed)
    res = Result()
    t_start = time.perf_counter()
    while True:
        order = sorted(keys)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for key in order:
            layer = f"operators.{keys[key]}"
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with _span(ctx, f"{layer}.build", "operators"):
                    df = fns[key](spark, ctx.data_dir)
                with _span(ctx, f"{layer}.exec", "operators"):
                    n = df.count()
                if n != want[key]:
                    res.fail(f"{key}: {n} rows, expected {want[key]}")
                res.rows += n
            except Exception as e:  # noqa: BLE001 - a failed operation
                res.fail(f"{key}: {type(e).__name__}: {str(e)[:200]}")
            res.latencies.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        res.pass_times.append(time.perf_counter() - t_pass)
        if _done(t_start, ctx.seconds):
            return res


# ------------------------------------------------------------ medallion


def _traced_graph(ctx: Context, graph):
    """Wrap every asset's build function and checks in spans. Asset
    objects are frozen, so the graph gets traced copies."""
    tr = ctx.tracer
    for key, asset in list(graph.assets.items()):
        graph.assets[key] = dataclasses.replace(
            asset,
            fn=tr.wrap(asset.fn, "plans.build"),
            checks=tuple((name, tr.wrap(check, "plans.check"))
                         for name, check in asset.checks))
    return graph


@dataclass
class SensorTick:
    """One landing slice for the bronze lineitem table: the lines of a
    seeded sample of orders re-keyed as new orders, plus a seeded share
    of existing lines re-landed with changed values."""
    landing: pa.Table
    final: pa.Table                     # bronze lineitem after the MERGE
    new_keys: tuple[int, int]           # orderkey range of the new orders
    new_rows: int


def plan_sensor_tick(data_dir: str, spec: dict, seed: int) -> SensorTick:
    rng = np.random.default_rng(seed)
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    n_orders = pq.ParquetFile(
        os.path.join(data_dir, "orders.parquet")).metadata.num_rows
    okey = li.column("l_orderkey").to_numpy()
    src = np.sort(rng.choice(n_orders, spec["new_orders"], replace=False))
    idx = np.nonzero(np.isin(okey, src))[0]
    rekey = n_orders + np.searchsorted(src, okey[idx])
    new = li.take(idx).set_column(
        li.schema.get_field_index("l_orderkey"),
        li.schema.field("l_orderkey"), pa.array(rekey, pa.int64()))
    pick = _whole_keys(li, rng.choice(len(li), int(round(
        spec["update_share"] * len(li))), replace=False))
    upd = _changed(li.take(pick), rng)
    final = _column_copies(li)
    _record_updates(final, pick, upd)
    return SensorTick(pa.concat_tables([new, upd]),
                      pa.concat_tables([_with_updates(li, final), new]),
                      (n_orders, n_orders + len(src) - 1), len(idx))


def _cast_to(schema):
    """foreachBatch ``prepare`` that casts a landed batch to the
    target table's schema (landing parquet carries TIMESTAMP_NTZ; the
    loader publishes session-zone TIMESTAMP)."""
    from pyspark.sql import functions as F

    def prepare(batch):
        return batch.select(*[F.col(f.name).cast(f.dataType)
                              for f in schema.fields])

    return prepare


def run_medallion(ctx: Context) -> Result:
    from university_data_lakehouse_spark.plans.medallion import (
        medallion_graph,
    )
    from university_data_lakehouse_spark.streaming.sink import (
        merge_into_table,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    spark = ctx.spark
    spec = ctx.expected["medallion"]
    want = ctx.scale["medallion_rows"]
    tick = plan_sensor_tick(ctx.data_dir, spec, ctx.seed)
    li_path = os.path.join(ctx.data_dir, "lineitem.parquet")
    li_schema = spark.read.parquet(li_path).schema
    # what the pass publishes from: the bronze sources and the tick
    input_bytes = sum(
        os.path.getsize(os.path.join(ctx.data_dir, f"{t}.parquet"))
        for t in _BRONZE_SOURCES)
    res = Result()
    t_start = time.perf_counter()
    n = 0
    while True:
        landed = input_bytes
        base = os.path.join(ctx.work_dir, f"medallion-{n}")
        wh = os.path.join(base, "warehouse")
        catalog = TableCatalog(wh)
        res.attempted += 2
        t0 = time.perf_counter()
        results = {}
        try:
            with _span(ctx, "plans.materialize", "plans"):
                graph = medallion_graph()
                if ctx.tracer is not None:
                    graph = _traced_graph(ctx, graph)
                results = graph.materialize(spark, ctx.data_dir,
                                            catalog=catalog)
            res.materialize_s.append(time.perf_counter() - t0)
            # a sensor tick lands new and changed lines into bronze
            bronze = catalog.table("bronze/lineitem")
            land = os.path.join(base, "landing")
            landed = input_bytes + _land(tick.landing, land, 0)
            with _span(ctx, "streaming.drain", "streaming"):
                q = merge_into_table(
                    spark.readStream.schema(li_schema).parquet(land),
                    table=bronze, keys=["l_orderkey", "l_linenumber"],
                    checkpoint_dir=os.path.join(base, "chk"),
                    prepare=_cast_to(bronze.schema()))
                finished = q.awaitTermination(spec["drain_timeout_s"])
            if not finished:
                q.stop()
                raise TimeoutError("sensor tick drain timed out")
            _stream_progress(res, q)
            bounds = {"l_orderkey": tick.new_keys}
            with _span(ctx, "tables.read_where", "tables.read"):
                got = bronze.read_where(spark, bounds).count()
            _pruning(ctx, res, bronze, bounds, 1)
            if got != tick.new_rows:
                res.fail(f"read_where: {got} rows, expected "
                         f"{tick.new_rows}")
            res.rows += len(tick.landing)
        except Exception as e:  # noqa: BLE001 - a failed operation
            res.fail(f"medallion pass: {type(e).__name__}: "
                     f"{str(e)[:200]}")
        dt = time.perf_counter() - t0
        res.latencies.append(dt)
        res.pass_times.append(dt)
        for key, rows in want.items():
            r = results.get(key)
            res.attempted += 1
            if r is None or r.status != "ok" or r.rows != rows:
                got = (r.status, r.rows) if r else None
                res.fail(f"{key}: got {got}, expected ('ok', {rows})")
        extra = sorted(set(results) - set(want))
        if extra:
            res.fail(f"unexpected assets {extra}")
        res.rows += sum(r.rows or 0 for r in results.values())
        _check_table(ctx, res, catalog.table("bronze/lineitem"),
                     tick.final, base, "bronze/lineitem after the tick")
        if ctx.tracer is not None:
            table_stats(res, wh, ctx.tracer, landed)
        shutil.rmtree(base, ignore_errors=True)
        n += 1
        if _done(t_start, ctx.seconds):
            return res


def _pruning(ctx: Context, res: Result, table, bounds: dict,
             reads_per_pass: int) -> None:
    """Footer-stat pruning of one ``read_where``: files skipped ÷ files
    in the snapshot, averaged over the pass's reads. Traced runs only;
    the reads are not spans."""
    if ctx.tracer is None:
        return
    with ctx.tracer.pause():
        files = len(table.manifest()["files"])
        cand = len(table.candidate_files(bounds))
    res.add("tables.files_pruned_frac",
            (files - cand) / files / reads_per_pass)


def _stream_progress(res: Result, q) -> None:
    progress = q.recentProgress
    res.add("streaming.batches", len(progress))
    # numInputRows counts every scan of the batch, so a foreachBatch
    # that reads its batch more than once reports it more than once
    res.add("streaming.rows", sum(p["numInputRows"] for p in progress))


def _check_table(ctx, res, table, want: pa.Table, base: str,
                 what: str) -> None:
    res.attempted += 1
    try:
        path = os.path.join(base, "expected.parquet")
        pq.write_table(want, path)
        spark = ctx.spark
        expected = spark.read.parquet(path)
        got = table.read(spark).select(*expected.columns)
        expected = expected.select(*[
            expected[c].cast(got.schema[c].dataType)
            for c in expected.columns])
        if not _same(got, expected):
            res.fail(f"{what} differs from source + updates")
    except Exception as e:  # noqa: BLE001
        res.fail(f"{what}: {type(e).__name__}: {str(e)[:200]}")


# ------------------------------------------------------ table accounting


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def table_stats(res: Result, warehouse: str, tracer=None,
                landed_bytes: int | None = None) -> None:
    """Commit, file and space accounting over every managed table in
    ``warehouse``, from the tables' own version history. Reads are
    taken outside any span, so they do not count as manifest time."""
    from university_data_lakehouse_spark.tables import TableCatalog

    cat = TableCatalog(warehouse)
    added = removed = versions = 0
    written = live = 0
    quiet = tracer.pause() if tracer is not None else contextlib.nullcontext()
    with quiet:
        for name in cat.tables():
            prev: dict[str, dict] = {}
            for m in cat.table(name).history():
                cur = {f["name"]: f for f in m["files"]}
                new = [f for k, f in cur.items() if k not in prev]
                added += len(new)
                removed += sum(1 for k in prev if k not in cur)
                written += sum(f["bytes"] for f in new)
                versions += 1
                prev = cur
            live += sum(f["bytes"] for f in prev.values())
    res.add("tables.files_added", added)
    res.add("tables.files_removed", removed)
    res.add("tables.versions", versions)
    res.add("tables.bytes_written_mb", written / 2**20)
    if landed_bytes:
        res.add("tables.write_amp", _dir_bytes(warehouse) / landed_bytes)
        res.add("tables.space_amp", live / landed_bytes)


# ---------------------------------------------------- incremental_ticks


@dataclass
class TickPlan:
    """Landing inputs of one pass, derived from the base tables and the
    workload seed."""
    li_files: list[pa.Table]
    doc_files: list[pa.Table]
    bounds: list[tuple[int, int]]       # orderkey [lo, hi] per tick
    range_rows: list[int]               # base lineitem rows per tick
    groups: list[int]                   # order_metrics groups after tick
    final_lineitem: pa.Table            # source + seeded updates
    landed_doc_ids: set[int]


_CHANGED = ("l_quantity", "l_extendedprice", "l_returnflag")


def _changed(rows: pa.Table, rng) -> pa.Table:
    """Re-landed lineitem rows: same keys, changed values."""
    qty = rows.column("l_quantity").to_numpy()
    price = rows.column("l_extendedprice").to_numpy() / qty
    new_qty = (qty % 50) + 1
    values = {
        "l_quantity": new_qty,
        "l_extendedprice": np.round(new_qty * price, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, len(rows))],
    }
    return _with_updates(rows, values)


def _whole_keys(li: pa.Table, pick: np.ndarray) -> np.ndarray:
    """``pick`` widened to every row that shares its merge key
    ``(l_orderkey, l_linenumber)`` with a picked row, sorted. The base
    table repeats keys, and a MERGE replaces every target row of a
    matched key, so a re-landed key has to carry all of its rows."""
    key = (li.column("l_orderkey").to_numpy() * 8
           + li.column("l_linenumber").to_numpy())
    return np.nonzero(np.isin(key, key[pick]))[0]


def _with_updates(li: pa.Table, values: dict[str, np.ndarray]) -> pa.Table:
    """``li`` with the changed columns replaced by ``values``."""
    for c in _CHANGED:
        li = li.set_column(li.schema.get_field_index(c), li.schema.field(c),
                           pa.array(values[c], li.schema.field(c).type))
    return li


def _column_copies(li: pa.Table) -> dict[str, np.ndarray]:
    return {c: li.column(c).to_numpy(zero_copy_only=False).copy()
            for c in _CHANGED}


def _record_updates(values: dict[str, np.ndarray], pick: np.ndarray,
                    upd: pa.Table) -> None:
    for c in _CHANGED:
        values[c][pick] = upd.column(c).to_numpy(zero_copy_only=False)


def plan_ticks(data_dir: str, spec: dict, seed: int) -> TickPlan:
    rng = np.random.default_rng(seed)
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    cust = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    n_ticks = spec["ticks"]
    n_orders = len(orders)
    edges = np.linspace(0, n_orders, n_ticks + 1).astype(int)
    okey = li.column("l_orderkey").to_numpy()

    # order_metrics groups (year, segment, status) present after tick k
    odf = orders.select(["o_orderkey", "o_custkey", "o_orderstatus",
                         "o_orderdate"]).to_pandas()
    seg = dict(zip(cust.column("c_custkey").to_pylist(),
                   cust.column("c_mktsegment").to_pylist()))
    odf = odf[odf.o_orderkey.isin(np.unique(okey))]
    odf["g"] = (odf.o_orderdate.dt.year.astype(str) + "|"
                + odf.o_custkey.map(seg) + "|" + odf.o_orderstatus)

    li_files, bounds, range_rows, groups = [], [], [], []
    landed_idx = np.empty(0, dtype=np.int64)
    # the table the stream should end with: base rows, each re-landed
    # key carrying its latest values
    final = _column_copies(li)
    for k in range(n_ticks):
        lo, hi = int(edges[k]), int(edges[k + 1]) - 1
        idx = np.nonzero((okey >= lo) & (okey <= hi))[0]
        part = li.take(idx)
        n_upd = int(round(spec["update_share"] * len(landed_idx)))
        if n_upd:
            pick = _whole_keys(li, rng.choice(landed_idx, n_upd,
                                              replace=False))
            upd = _changed(li.take(pick), rng)
            _record_updates(final, pick, upd)
            part = pa.concat_tables([part, upd])
        li_files.append(part)
        landed_idx = np.concatenate([landed_idx, idx])
        bounds.append((lo, hi))
        range_rows.append(len(idx))
        groups.append(int(odf[odf.o_orderkey <= hi].g.nunique()))
    final_tbl = _with_updates(li, final)

    # documents: re-id base docs to even ids, planted near-duplicates of
    # already-landed docs take odd ids inside the tick's own id range,
    # so ingest stays doc_id-monotone tick over tick
    doc_edges = np.linspace(0, len(docs), n_ticks + 1).astype(int)
    texts = docs.column("text").to_pylist()
    doc_files, landed = [], set()
    for k in range(n_ticks):
        sl = docs.slice(doc_edges[k], doc_edges[k + 1] - doc_edges[k])
        sl = sl.set_column(0, "doc_id", pa.array(
            sl.column("doc_id").to_numpy() * 2))
        lo, hi = int(doc_edges[k]), int(doc_edges[k + 1])
        m = spec["dup_docs_per_tick"]
        slots = rng.choice(np.arange(lo, hi), m, replace=False)
        sources = rng.integers(0, hi, m)
        dup_texts = [datagen.near_duplicate(texts[int(s)])
                     for s in sources]
        dups = pa.table({
            "doc_id": pa.array(np.sort(slots) * 2 + 1, pa.int64()),
            "text": dup_texts,
            "lang": pa.array(["en"] * m),
            "source": pa.array(["src_dup"] * m),
            "n_chars": pa.array([len(t) for t in dup_texts], pa.int64()),
        }).cast(sl.schema)
        doc_files.append(pa.concat_tables([sl, dups]))
        landed |= set(sl.column("doc_id").to_pylist())
        landed |= set(dups.column("doc_id").to_pylist())
    return TickPlan(li_files, doc_files, bounds, range_rows, groups,
                    final_tbl, landed)


def _land(table: pa.Table, directory: str, k: int) -> int:
    """Atomically publish one landing file (Spark's file source skips
    names starting with '.')."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".tick-{k:04d}.parquet")
    pq.write_table(table, tmp)
    size = os.path.getsize(tmp)
    os.replace(tmp, os.path.join(directory, f"tick-{k:04d}.parquet"))
    return size


def _same(a, b) -> bool:
    return (a.count() == b.count() and a.exceptAll(b).isEmpty()
            and b.exceptAll(a).isEmpty())


def _metrics_view(df):
    """Order-metrics state with each sketch reduced to a function of
    its registers alone. A sketch built in one pass estimates with its
    insertion history (HIP); a union result cannot, so the raw
    estimates of ticked and one-shot state differ even when their
    registers agree. Passing both sides through a self-union puts them
    on the same register-only estimator, which keeps the comparison
    exact."""
    from pyspark.sql import functions as F

    sketches = ("cust_hll", "ret_hll", "funded_hll", "part_hll")
    return df.select(
        "order_year", "segment", "status", "n_rows", "qty_dec",
        "acct_dec",
        *[F.coalesce(F.hll_sketch_estimate(F.hll_union(c, c)),
                     F.lit(-1)).alias(c)
          for c in sketches])


def run_incremental_ticks(ctx: Context) -> Result:
    from university_data_lakehouse_spark.plans.corpus import (
        gated_corpus_tick,
    )
    from university_data_lakehouse_spark.plans.medallion import (
        _order_metrics_partials,
        finalize_order_metrics,
        incremental_order_metrics,
    )
    from university_data_lakehouse_spark.streaming.sink import (
        merge_into_table,
    )
    from university_data_lakehouse_spark.tables import TableCatalog

    spark = ctx.spark
    spec = ctx.expected["incremental_ticks"]
    plan = plan_ticks(ctx.data_dir, spec, ctx.seed)
    li_schema = spark.read.parquet(
        os.path.join(ctx.data_dir, "lineitem.parquet")).schema
    doc_schema = spark.read.parquet(
        os.path.join(ctx.data_dir, "documents.parquet")).schema
    timeout = spec["drain_timeout_s"]
    res = Result()
    t_start = time.perf_counter()
    n = 0
    while True:
        base = os.path.join(ctx.work_dir, f"ticks-{n}")
        wh = os.path.join(base, "warehouse")
        land_li = os.path.join(base, "landing", "lineitem")
        land_docs = os.path.join(base, "landing", "documents")
        catalog = TableCatalog(wh)
        li_table = catalog.table("silver/lineitem_landed")
        landed_bytes = 0
        t_pass = time.perf_counter()
        for k, (lo, hi) in enumerate(plan.bounds):
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                landed_bytes += _land(plan.li_files[k], land_li, k)
                landed_bytes += _land(plan.doc_files[k], land_docs, k)
                with _span(ctx, "streaming.drain", "streaming"):
                    q = merge_into_table(
                        spark.readStream.schema(li_schema).parquet(land_li),
                        table=li_table,
                        keys=["l_orderkey", "l_linenumber"],
                        checkpoint_dir=os.path.join(base, "chk", "li"))
                    finished = q.awaitTermination(timeout)
                if not finished:
                    q.stop()
                    raise TimeoutError(f"drain exceeded {timeout}s")
                _stream_progress(res, q)
                with _span(ctx, "plans.incremental", "plans"):
                    incremental_order_metrics(
                        spark, ctx.data_dir, catalog,
                        since_orderkey=lo - 1 if k else None,
                        until_orderkey=hi)
                with _span(ctx, "plans.corpus.tick", "plans"):
                    out = gated_corpus_tick(
                        spark, catalog,
                        spark.readStream.schema(doc_schema).parquet(
                            land_docs),
                        os.path.join(base, "chk", "docs"),
                        os.path.join(wh, "corpus_bands"))
                res.add("plans.corpus.rolled_docs",
                        out.get("rolled_docs", 0))
                with _span(ctx, "plans.finalize", "plans"):
                    groups = finalize_order_metrics(spark, catalog).count()
                bounds = {"l_orderkey": (lo, hi)}
                with _span(ctx, "tables.read_where", "tables.read"):
                    got = li_table.read_where(spark, bounds).count()
                _pruning(ctx, res, li_table, bounds, len(plan.bounds))
                if groups != plan.groups[k]:
                    res.fail(f"tick {k}: {groups} order_metrics groups, "
                             f"expected {plan.groups[k]}")
                if got != plan.range_rows[k]:
                    res.fail(f"tick {k}: read_where {got} rows, "
                             f"expected {plan.range_rows[k]}")
                res.rows += len(plan.li_files[k]) + len(plan.doc_files[k])
            except Exception as e:  # noqa: BLE001 - a failed operation
                res.fail(f"tick {k}: {type(e).__name__}: {str(e)[:200]}")
            res.latencies.append(time.perf_counter() - t0)
        res.pass_times.append(time.perf_counter() - t_pass)
        _check_ticks(ctx, res, plan, catalog, li_table, base,
                     _order_metrics_partials)
        if ctx.tracer is not None:
            table_stats(res, wh, ctx.tracer, landed_bytes)
        shutil.rmtree(base, ignore_errors=True)
        n += 1
        if _done(t_start, ctx.seconds):
            return res


def _check_ticks(ctx, res, plan, catalog, li_table, base,
                 partials) -> None:
    """End-of-pass correctness: the streamed table equals source plus
    updates, the ticked metrics state equals a one-shot aggregation,
    and every landed document is either published or quarantined."""
    spark = ctx.spark
    _check_table(ctx, res, li_table, plan.final_lineitem, base,
                 "streamed lineitem table")
    res.attempted += 2
    try:
        state = catalog.table("gold/order_metrics_state").read(spark)
        one_shot = partials(spark, ctx.data_dir, None, plan.bounds[-1][1])
        if not _same(_metrics_view(state), _metrics_view(one_shot)):
            res.fail("order_metrics_state differs from one-shot partials")
    except Exception as e:  # noqa: BLE001
        res.fail(f"metrics check: {type(e).__name__}: {str(e)[:200]}")
    try:
        pub = {r.doc_id for r in catalog.table(
            "bronze/documents_ingested").read(spark)
            .select("doc_id").collect()}
        quar_t = catalog.table("quarantine/near_dup_docs")
        quar = ({r.doc_id for r in quar_t.read(spark).select("doc_id")
                 .collect()} if quar_t.exists() else set())
        res.add("plans.corpus.quarantined", len(quar))
        if pub & quar or (pub | quar) != plan.landed_doc_ids:
            res.fail(f"corpus gate: {len(pub)} published + {len(quar)} "
                     f"quarantined, {len(pub & quar)} in both, "
                     f"{len(plan.landed_doc_ids)} landed")
    except Exception as e:  # noqa: BLE001
        res.fail(f"corpus check: {type(e).__name__}: {str(e)[:200]}")


WORKLOADS = {
    "medallion": run_medallion,
    "query_mix": run_query_mix,
    "incremental_ticks": run_incremental_ticks,
}
