#!/usr/bin/env python3
"""Lakehouse benchmark: one command, three closed-loop workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 1 --trace 0

Workloads (see ``workloads.py``): ``medallion``, ``query_mix`` and
``incremental_ticks``. Inputs are generated by ``datagen.py`` into
``.perfbench_work/`` at the repository root (kept between runs); the
seed drives everything a workload varies. ``--seconds`` is the
minimum measuring time: whole passes are always finished, so a run
measures at least one pass.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
spans around the package's layers and reports the per-layer metrics
(and the traced end-to-end values as ``traced.*``, so the two runs
give the tracing overhead). Every output is checked; any mismatch
makes ``correct`` false and the exit code 1. The last stdout line is
the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import datagen
import workloads
from workloads import OPERATOR_MODULES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SCALE = "0.01"

# Bounded end-to-end metrics. Per-operation latency and rows per
# second are printed on the "#" lines but not bounded: rows per pass
# are fixed by the inputs, so rows/s only restates pass_s, and on a
# shared 4-core host the per-query median spread half again as wide
# as the pass time between seeds.
END_TO_END = {                      # name -> unit
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

def _per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "sources.load_s": "s",
             "sources.loads": "count"}
    for m in OPERATOR_MODULES:
        for f, u in (("build_s", "s"), ("exec_s", "s"),
                     ("exec_run_s", "s"), ("jobs", "count"),
                     ("driver_gap_s", "s"), ("shuffle_mb", "MB")):
            units[f"operators.{m}.{f}"] = u
    for f, u in (("build_s", "s"), ("check_s", "s"), ("check_jobs", "count"),
                 ("commit_s", "s"), ("commit_jobs", "count"),
                 ("cache_count_s", "s"), ("jobs", "count"),
                 ("stages", "count"), ("tasks", "count"),
                 ("driver_gap_s", "s"), ("incremental_s", "s"),
                 ("incremental_jobs", "count"), ("corpus.tick_s", "s"),
                 ("corpus.jobs", "count"), ("corpus.rolled_docs", "count"),
                 ("corpus.quarantined", "count")):
        units[f"plans.{f}"] = u
    for f, u in (("write_s", "s"), ("write_jobs", "count"), ("merge_s", "s"),
                 ("merge_jobs", "count"), ("files_added", "count"),
                 ("files_removed", "count"), ("bytes_written_mb", "MB"),
                 ("manifest_s", "s"), ("read_where_s", "s"),
                 ("files_pruned_frac", "frac"), ("versions", "count"),
                 ("write_amp", "ratio"), ("space_amp", "ratio")):
        units[f"tables.{f}"] = u
    for f, u in (("drain_s", "s"), ("batches", "count"), ("rows", "count"),
                 ("jobs", "count")):
        units[f"streaming.{f}"] = u
    for f, u in (("gc_s", "s"), ("jobs", "count"), ("stages", "count"),
                 ("tasks", "count"), ("exec_cpu_s", "s"),
                 ("shuffle_mb", "MB")):
        units[f"spark.{f}"] = u
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()
                  if k != "setup_s"})
    return units


PER_LAYER = _per_layer_units()


# ------------------------------------------------------------ environment


def pin_environment() -> dict:
    """Pin what the package reads from the environment, and keep every
    file Spark, the JVM and Python write inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    heap_mb = max(1024, min(2048, mem_kb // 1024 // 10))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # a fixed-size heap: no resizing decisions, so GC timing and
        # resident memory vary less between runs
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp}",
        # every JVM, the launcher's too, would otherwise keep a perf
        # data file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
    })
    import tempfile
    tempfile.tempdir = tmp
    return {"nproc": cpus, "driver_heap_mb": heap_mb}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------------ setup


def warm_up(spark, data_dir: str) -> None:
    """First scans, a join/window/aggregate query, and Python workers
    for an Arrow UDF and ``mapInPandas``, so the first measured
    operation does not pay their start-up and first compilation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def read(name):
        return spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))

    li, orders, cust = read("lineitem"), read("orders"), read("customer")
    li.count()
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey)
    top = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("l_extendedprice"))
    (joined.withColumn("r", F.row_number().over(top)).where("r <= 3")
     .groupBy("c_mktsegment").agg(F.sum("l_quantity")).collect())

    @F.pandas_udf("double")
    def plus_one(v):
        return v + 1.0

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, numPartitions=n).select(
        plus_one(F.col("id").cast("double")).alias("v")).agg(
        F.sum("v")).collect()
    spark.range(0, 4 * n, numPartitions=n).mapInPandas(
        lambda it: it, "id long").count()


def setup(data_dir: str):
    """Start the session (launching the JVM) and warm it up. Returns
    the session, the ``get_spark`` time and the time through warm-up."""
    from university_data_lakehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, data_dir)
    return spark, start_s, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - fall back to a hard stop
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- tracing


def install_spans(tracer) -> None:
    from university_data_lakehouse_spark.sources import loader
    from university_data_lakehouse_spark.tables import format as tables

    pkg = workloads.PKG
    tracer.patch(loader, "load_table", "sources.load", everywhere=pkg)
    for m in OPERATOR_MODULES:
        mod = workloads.operator_module(m)
        for fn in set(mod.QUERIES.values()):
            name = getattr(fn, "__name__", "")
            if getattr(mod, name, None) is fn:
                tracer.patch(mod, name, f"operators.{m}.build",
                             "operators", everywhere=pkg)
    tracer.patch(tables.TableCatalog, "write", "plans.commit")
    tracer.patch(tables.ManagedTable, "write", "tables.write")
    tracer.patch(tables.ManagedTable, "merge", "tables.merge")
    tracer.patch(tables.ManagedTable, "manifest", "tables.manifest")


def layer_metrics(tracer, res, passes: int, session: dict) -> dict:
    """Per-layer values per pass, named as in PER_LAYER."""
    g = tracer.get
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(session)
    out["sources.load_s"] = g("sources.load")
    out["sources.loads"] = g("sources.load", "calls")
    for m in OPERATOR_MODULES:
        b, e = f"operators.{m}.build", f"operators.{m}.exec"
        out[f"operators.{m}.build_s"] = g(b)
        out[f"operators.{m}.exec_s"] = g(e)
        out[f"operators.{m}.exec_run_s"] = g(b, "exec_run_s") + g(
            e, "exec_run_s")
        for f in ("jobs", "driver_gap_s", "shuffle_mb"):
            out[f"operators.{m}.{f}"] = g(b, f) + g(e, f)
    top = ("plans.materialize", "plans.incremental", "plans.corpus.tick",
           "plans.finalize")
    out["plans.build_s"] = g("plans.build")
    out["plans.check_s"] = g("plans.check")
    out["plans.check_jobs"] = g("plans.check", "jobs")
    out["plans.commit_s"] = g("plans.commit")
    out["plans.commit_jobs"] = g("plans.commit", "jobs")
    out["plans.cache_count_s"] = max(0.0, g("plans.materialize") - g(
        "plans.build") - g("plans.check") - g("plans.commit"))
    for f in ("jobs", "stages", "tasks", "driver_gap_s"):
        out[f"plans.{f}"] = sum(g(t, f) for t in top)
    out["plans.incremental_s"] = g("plans.incremental")
    out["plans.incremental_jobs"] = g("plans.incremental", "jobs")
    out["plans.corpus.tick_s"] = g("plans.corpus.tick")
    out["plans.corpus.jobs"] = g("plans.corpus.tick", "jobs")
    out["tables.write_s"] = g("tables.write")
    out["tables.write_jobs"] = g("tables.write", "jobs")
    out["tables.merge_s"] = g("tables.merge")
    out["tables.merge_jobs"] = g("tables.merge", "jobs")
    out["tables.manifest_s"] = g("tables.manifest")
    out["tables.read_where_s"] = g("tables.read_where")
    out["streaming.drain_s"] = g("streaming.drain")
    out["streaming.jobs"] = g("streaming.drain", "jobs")
    for f in ("gc_s", "jobs", "stages", "tasks", "exec_cpu_s",
              "shuffle_mb"):
        out[f"spark.{f}"] = g("run", f)
    for k, v in res.extra.items():
        out[k] = v
    per_pass = {k: v / passes for k, v in out.items()
                if not k.startswith("session.")}
    out.update(per_pass)
    return out


# ------------------------------------------------------------------- main


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("medallion", "query_mix", "incremental_ticks"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default=DEFAULT_SCALE,
                   help="scale factor of the generated inputs")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    env = pin_environment()
    sys.path.insert(0, ROOT)
    try:
        import university_data_lakehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    if args.scale not in expected["scales"]:
        print(f"perfbench: no expected outputs for scale {args.scale}",
              file=sys.stderr)
        return 2
    scale = expected["scales"][args.scale]
    t0 = time.perf_counter()
    data_dir = datagen.ensure(float(args.scale),
                              os.path.join(WORK, f"data-sf{args.scale}"))
    gen_s = time.perf_counter() - t0
    work_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)

    steal0, total0 = cpu_times()
    load0 = os.getloadavg()[0]
    workloads.import_layers()
    spark, start_s, setup_s = setup(data_dir)
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    tracer = None
    try:
        if args.trace:
            import spans
            tracer = spans.Tracer(spark)
            install_spans(tracer)
        ctx = workloads.Context(spark, data_dir, work_dir, args.seed,
                                args.seconds, expected, scale, tracer)
        run = workloads.WORKLOADS[args.workload]
        if tracer is not None:
            with tracer.span("run"):
                res = run(ctx)
        else:
            res = run(ctx)
    finally:
        peak = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    steal1, total1 = cpu_times()

    passes = len(res.pass_times)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(res.pass_times),
        "peak_rss_mb": peak,
    }
    op_p50 = statistics.median(res.latencies)
    rows_per_s = res.rows / sum(res.pass_times)
    failed = len(res.failures)
    run_env = {
        **env, "git_sha": git_sha(), "loadavg_1m": [load0,
                                                   os.getloadavg()[0]],
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "input_gen_s": gen_s, "scale": args.scale,
        "passes": passes,
        "ops": len(res.latencies), "op_latencies_s": res.latencies,
        "pass_s_each": res.pass_times,
    }
    print("# env " + json.dumps(run_env))
    for f in res.failures:
        print(f"# FAILED {f}")
    _print_named_metrics(args.workload, e2e, op_p50, rows_per_s, res, failed)
    if args.trace:
        values = layer_metrics(tracer, res, passes,
                               {"session.start_s": start_s})
        values.update({f"traced.{k}": v for k, v in e2e.items()
                       if f"traced.{k}" in PER_LAYER})
        units = PER_LAYER
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{args.workload}-"
                               f"{args.seed}.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    else:
        values, units = e2e, END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def _print_named_metrics(workload: str, e2e: dict, op_p50: float,
                      rows_per_s: float, res, failed: int) -> None:
    """The end-to-end metrics under their workload-specific names."""
    named = {
        "medallion": {"medallion_s": statistics.median(
            res.materialize_s or [float("nan")]),
                      "medallion_tick_s": e2e["pass_s"],
                      "medallion_rows_per_s": rows_per_s},
        "query_mix": {"query_mix_s": e2e["pass_s"],
                      "query_p50_s": op_p50,
                      "query_rows_per_s": rows_per_s},
        "incremental_ticks": {"tick_p50_s": op_p50,
                              "ticks_pass_s": e2e["pass_s"],
                              "tick_rows_per_s": rows_per_s},
    }[workload]
    named.update({"setup_s": e2e["setup_s"],
                  "peak_rss_mb": e2e["peak_rss_mb"],
                  "failed_frac": failed / max(1, res.attempted)})
    for k, v in named.items():
        unit = ("MB" if k.endswith("_mb") else "1/s" if "per_s" in k
                else "frac" if k.endswith("frac") else "s")
        print(f"# {workload} {k} = {v:.6g} {unit}")


if __name__ == "__main__":
    sys.exit(main())
