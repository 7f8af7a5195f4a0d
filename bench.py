"""Headline benchmark: runs the flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line (compact — sized to
survive the driver's 2000-char output tail; the byte-complete result
is written to bench_full.json, which is what the builder commits as
BENCH_r{N}_local.json).

Timing is end-to-end per query (plan + execute + count-style action),
after a warmup query amortizes JVM/session startup. Each query runs
REPEATS times and reports the MEDIAN, so round-over-round deltas
reflect plan changes rather than JIT/IO jitter. Shared-stage caches
(the dedup shingle stage) are cleared between repeats so every run
pays the query's full cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from university_data_lakehouse_spark.session import get_spark

HEADLINE = [
    "silver_dim_customers",
    "silver_fact_lineitems",
    "silver_fact_contacts",
    "gold_order_metrics",
    "gold_revenue_analytics",
    "gold_status_funnel",
    "olap_pricing_summary",
    "olap_local_supplier_volume",
    "olap_top_k_per_group",
    "olap_price_percentiles",
    "olap_min_cost_supplier",
    "olap_market_share",
    "olap_returned_items",
    "olap_big_orders",
    "olap_customer_distribution",
    "olap_nation_trade",
    "olap_profit_by_nation",
    "olap_waiting_suppliers",
    "events_anomaly",
    "text_lm_quality",
    "events_sessionize",
    "events_asof_join",
    "events_retention",
    "events_funnel",
    "olap_late_orders",
    "dedup_exact",
    "dedup_boilerplate",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "dedup_embedding_lsh_auto",
    "dedup_cluster_canonical",
    "sim_knn_bruteforce",
    "sim_knn_lsh",
    "sim_knn_ivf",
    "sim_knn_pq",
    "sim_knn_ivfpq",
    "text_quality_score",
    "text_vocab_topk",
    "emb_nearest_centroid",
    "events_transition_matrix",
    "olap_basket_affinity",
    "olap_customer_abc",
    "events_active_users",
    "text_contamination_semantic",
    "multimodal_decoded",
    "multimodal_features",
    "multimodal_jpeg",
    "multimodal_audio_stats",
    "multimodal_mixed",
    "multimodal_normalize",
    "multimodal_mjpeg",
    "multimodal_flac",
    "chunk_documents",
    "corpus_build",
    # r9: the C4 cleaning pair, the Gopher gate, and the two new
    # decode formats (A-law audio, Y4M raw video)
    "text_gopher_rules",
    "text_c4_rules",
    "dedup_c4_spans",
    "multimodal_alaw",
    "multimodal_y4m",
    # r10 (VERDICT r9 item 4): the three r9 keys that shipped
    # unbenched — sim_knn_rp's "4x cheaper per pair" claim needs a
    # number next to sim_knn_bruteforce — plus the two r10 keys
    # (RP-probed IVF, MPEG-1 intra video)
    "emb_random_projection",
    "sim_knn_rp",
    "dq_psi_drift",
    "sim_knn_ivf_rp",
    "multimodal_mpeg1",
    "dq_ks_drift",
    "text_fineweb_rules",
    "dq_benford",
    "dq_embedding_health",
    # r16 (VERDICT r15 item 2): the r15 signature-stage unification
    # (batch twin of streaming.dedupe.simhash_tag, cache barriers
    # retired) changed this production-path plan but left it with no
    # committed timing row — its only number anywhere was r14
    # coverage's 11.2s cold pre-unification value. HEADLINE carries
    # the win in artifacts from here on (judge probe: warm sf0.1
    # 5.0-5.5s vs r13's 8.2s; sf1 ~27s, linear slope).
    "dedup_simhash_wide",
]

# Frozen r4 headline set: `core_total` sums exactly these 27 queries
# every round so the round-over-round trend is directly comparable
# even as HEADLINE grows.  DO NOT edit this list.
CORE_QUERIES = frozenset([
    "silver_dim_customers", "silver_fact_lineitems", "silver_fact_contacts",
    "gold_order_metrics", "gold_revenue_analytics", "gold_status_funnel",
    "olap_pricing_summary", "olap_local_supplier_volume",
    "olap_top_k_per_group", "olap_price_percentiles",
    "olap_min_cost_supplier", "olap_market_share",
    "events_sessionize", "events_asof_join", "events_retention",
    "events_funnel", "olap_late_orders",
    "dedup_exact", "dedup_minhash_lsh", "dedup_embedding_lsh",
    "dedup_cluster_canonical",
    "sim_knn_bruteforce", "sim_knn_lsh", "sim_knn_ivf",
    "text_quality_score", "multimodal_decoded", "corpus_build",
])

REPEATS = 4           # this VM shows 3-5x first-run jitter; the
SCALING_REPEATS = 3   # medians need >3 samples for headline queries,
SF10_REPEATS = 3      # fewer for the secondary scaling sections —
#                       keeps the whole bench bounded. sf10 was 2
#                       through r11: a 2-sample "median" is a mean
#                       that rejects nothing, and produced 1.5-2.3x
#                       no-code-change swings (perf_regress had to
#                       make the section non-gating); 3 samples buy
#                       one-outlier rejection for ~75s more bench.

# The LSH family showed r6->r7 swings of ~1.5x at sf1 with NO code
# change (VERDICT r7 item 7) — they are the highest-variance operators
# in the suite (hash-bucket join sizes are sensitive to partition
# placement). Time them with 5 repeats in the synth sections so the
# median actually rejects the outliers.
# r10 added the codec heavyweights: multimodal_jpeg timed 14.0s
# (driver run) vs 10.1s (builder run) at the same HEAD and sf1 —
# in-run variance of the LSH kind, which would masquerade as a
# regression without the median-of-5.
# r13 (VERDICT r12 item 2): multimodal_mjpeg and multimodal_flac
# joined after their r12 sf0.1 flags (1.52x / 1.42x) were adjudicated
# host-window noise and CONFIRMED by the judge's quiet re-probe
# (mjpeg 5.23s vs flagged 8.70, flac 7.83 vs 10.80 — both at or below
# their r11 values on identical code). Same codec-heavyweight profile
# as multimodal_jpeg/mpeg1: seconds-long Arrow decode batches whose
# wall time rides the host's noisy-neighbor CPU windows.
HIGH_VARIANCE = {"dedup_minhash_lsh", "dedup_embedding_lsh",
                 "multimodal_jpeg", "multimodal_mpeg1",
                 "multimodal_mjpeg", "multimodal_flac"}
# sim_knn_pq/ivf/ivfpq/ivf_rp left the set once their quantizer
# training moved onto the driver (similarity.py): the per-round Lloyd
# jobs that made them noisy are gone. Re-measured in one 4-core bench
# run, their (max - min) / median over repeats 2-4 was 0.06-0.13,
# against quartiles 0.08 / 0.14 / 0.23 for the other 65 headline keys
# timed 4 times; over repeats 1-4 it was 0.24-0.74 against 0.20 /
# 0.38 / 0.63 — first-run jitter of the kind REPEATS already absorbs.
HIGH_VARIANCE_REPEATS = 5

# coverage (VERDICT r11 item 7): HEADLINE times 68 of the registry's
# keys; the rest had NO timing row anywhere, so a pathological
# slowdown in an untimed key (a corpus_* or events_* outside HEADLINE)
# could hide. Every bench times each non-HEADLINE key once — cheap,
# and every registry key has a timing row in every artifact.
COVERAGE_REPEATS = 1

# Documented quadratic-by-construction baselines (each names its
# scale-killer and in-registry production sibling in its docstring).
# Their coverage cost is by construction, not a pathology signal —
# two of them took 42s of a 72s coverage section (VERDICT r12 What's
# wrong #2) and the section runs on every bench, so they are timed at
# sf0.01 instead of the bench SF: still a timing row (a blowup would
# show — their sf0.01 cost is well under a second), but the section's
# budget stays ~O(core). The cap is recorded in the artifact
# ("capped_sf001") — never silent.
COVERAGE_CAP_SF001 = {"dedup_embedding_cosine", "dedup_ngram_jaccard",
                      "dedup_simhash"}


def coverage_keys(queries: dict) -> list[str]:
    return sorted(set(queries) - set(HEADLINE))


# skew section (VERDICT r6 #8): the skew-sensitive operators timed on
# the planted-hostile corpus (tools/synth_skew.py — one user with ~10%
# of events, one 10k-line order) next to the same queries on the base
# dir. The ratio IS the skew penalty under AQE.
SKEW_QUERIES = [
    "events_sessionize",
    "events_first_last_touch",
    "olap_basket_affinity",
    # r9: one boilerplate span planted into ~30% of documents — one
    # md5 key carrying a third of the span table; the groupBy+min
    # partial aggregation must absorb it map-side
    "dedup_c4_spans",
]

# sf10 section (VERDICT r6 #9): the always-≲-linear subset re-timed on
# the x100 synthesis (tools/synth_scale.py --replicas 100) for a
# three-point slope (sf0.1 / sf1 / sf10). Quadratic-by-construction
# baselines and ANN paths are excluded by design (embeddings are not
# even synthesized at x100).
SF10_QUERIES = [
    "silver_dim_customers", "silver_fact_lineitems",
    "silver_fact_contacts", "gold_order_metrics",
    "gold_revenue_analytics", "gold_status_funnel",
    "olap_pricing_summary", "olap_local_supplier_volume",
    "olap_top_k_per_group", "olap_price_percentiles",
    "olap_min_cost_supplier", "olap_market_share",
    "events_sessionize", "events_asof_join", "events_retention",
    "events_funnel", "olap_late_orders", "dedup_exact",
    "olap_basket_affinity", "olap_customer_abc",
    "text_quality_score", "text_vocab_topk", "chunk_documents",
    # r8 (VERDICT item 8): the bounded-explode slope claims measured
    # only to sf1 until now, plus one Arrow mapInPandas decode key so
    # the Python-batch path has a measured slope too
    "events_active_users", "text_tfidf_topk", "multimodal_jpeg",
    # r9: the new corpus-wide shuffle op and one of the map-only rule
    # gates get three-point slopes from day one
    "dedup_c4_spans", "text_gopher_rules",
    # r10: the one-scan PSI rewrite's slope is the point of the
    # rewrite; the KS/Benford/FineWeb family are one-scan aggregates
    # whose sf10 numbers prove the constant-sized downstream claim
    # (note: replica-synthesized sf10 keeps DISTINCT values at the
    # sf0.1 count, so grouped-table stages stay small by design)
    "dq_psi_drift", "dq_ks_drift", "dq_benford", "text_fineweb_rules",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The sf1 multimodal section allocates ~64MB Arrow batches; at the
    # default 8g heap the JVM hit GCLocker retry warnings (r11). Give
    # the bench JVM headroom unless the caller pinned it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_spark("udl-bench")
    spark.sparkContext.setLogLevel("WARN")
    # the -Xlog:disable stdout-corruption guard only binds when THIS
    # process launched the driver JVM; against a pre-existing gateway
    # (pyspark shell, PYSPARK_SUBMIT_ARGS) it is silently inert and a
    # GCLocker warning could corrupt the JSON line again — fail loud
    # instead of trusting stdout (r11 ADVICE)
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    if "-Xlog:disable" not in opts:
        print("bench: FATAL — driver JVM lacks -Xlog:disable "
              "(pre-existing gateway?); stdout JSON is not trustworthy",
              file=sys.stderr)
        sys.exit(2)
    queries = entry_mod.queries()

    # warmup: touch the biggest table so JVM + parquet footer caches are
    # hot, then one UNTIMED throwaway of the first headline query — the
    # first DataFrame query pays residual codegen/analyzer warmup that
    # otherwise lands on whichever query happens to run first
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    first = queries.get(HEADLINE[0])
    if first is not None:
        first(spark, sf_dir).count()
        spark.catalog.clearCache()
    # r16 measurement fix (its notes are in git history): also
    # pre-spawn the Python worker pool. The scattered pipelines now run
    # Arrow stages 32-way, and the FIRST such stage otherwise pays a
    # defaultParallelism-sized thundering herd of worker spawns (each
    # importing pyspark/numpy/pandas) inside its timed region — r16
    # preview measured 32 s on multimodal_decoded's first repeat, pure
    # warmup artifact. Timed methodology is unchanged; this only moves
    # one-time process startup into the untimed warmup, symmetric with
    # the JVM/codegen warmup above.
    par = spark.sparkContext.defaultParallelism

    def _noop_batches(batches):
        yield from batches

    (spark.range(par * 4, numPartitions=par)
     .mapInPandas(_noop_batches, "id long").count())

    def time_key(key: str, d: str, repeats: int = REPEATS) -> tuple[float, int]:
        runs, n = [], 0
        for _ in range(repeats):
            spark.catalog.clearCache()  # pay shared-stage cost every run
            t0 = time.perf_counter()
            df = queries[key](spark, d)
            n = df.count()
            runs.append(time.perf_counter() - t0)
        s = sorted(runs)
        mid = len(s) // 2
        med = round(s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2, 3)
        print(f"# {key}: {med}s median of "
              f"{[round(r, 3) for r in runs]} ({n} rows)", file=sys.stderr)
        return med, n

    timings: dict[str, float] = {}
    for key in HEADLINE:
        if key in queries:
            # r16: HIGH_VARIANCE repeats apply in the headline section
            # too — the r15 DRIVER artifact's hot block hit the
            # sim_knn family at sf0.1, not just the synth sections
            reps = (HIGH_VARIANCE_REPEATS if key in HIGH_VARIANCE
                    else REPEATS)
            timings[key], _ = time_key(key, sf_dir, reps)

    total = round(sum(timings.values()), 3)
    core_total = round(
        sum(v for k, v in timings.items() if k in CORE_QUERIES), 3)

    # scaling slope: re-time the 5 most expensive headline queries at a
    # second (smaller) scale factor so per-round numbers carry a
    # data-size derivative, not just a single point
    scaling: dict = {}
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALING_SF_DIR", "/root/testdata/sf0.01")
    if os.path.isdir(scale_dir) and os.path.realpath(
            scale_dir) != os.path.realpath(sf_dir):
        scale_sf = scale_dir.rstrip("/").rsplit("sf", 1)[-1]
        top5 = sorted(timings, key=timings.get, reverse=True)[:5]
        print(f"# scaling run at sf{scale_sf}: {top5}", file=sys.stderr)
        small = {k: time_key(k, scale_dir, SCALING_REPEATS)[0]
                 for k in top5}
        scaling = {
            "sf": float(scale_sf),
            "queries": small,
            "total": round(sum(small.values()), 3),
        }

    out = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "core_total": core_total,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if scaling:
        out["scaling"] = scaling

    # upward scale point: if a synthesized ~sf1 dataset exists (see
    # tools/synth_scale.py), re-time the headline set there so the
    # per-round record carries a measurement where shuffles actually
    # cost something.  Opt-out via SPARK_GRAFT_SYNTH_DIR=""
    synth_dir = os.environ.get(
        "SPARK_GRAFT_SYNTH_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".synthdata", "sf1"))
    if synth_dir and os.path.isdir(synth_dir):
        print(f"# synth-sf1 run at {synth_dir}", file=sys.stderr)
        big = {}
        for key in HEADLINE:
            if key in queries:
                reps = (HIGH_VARIANCE_REPEATS if key in HIGH_VARIANCE
                        else SCALING_REPEATS)
                big[key] = time_key(key, synth_dir, reps)[0]
        out["sf1_synth"] = {
            "sf": 1.0,
            "dir": synth_dir,
            "queries": big,
            "total": round(sum(big.values()), 3),
            "core_total": round(
                sum(v for k, v in big.items() if k in CORE_QUERIES), 3),
        }

    # planted-skew point: base vs hostile key distribution, same SF
    skew_dir = os.environ.get(
        "SPARK_GRAFT_SKEW_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".synthdata", "skew"))
    if skew_dir and os.path.isdir(skew_dir):
        print(f"# skew run at {skew_dir}", file=sys.stderr)
        sk = {}
        for key in SKEW_QUERIES:
            if key not in queries:
                continue
            # base and skew MUST use the same repeat count (ADVICE r7
            # item 4): reusing the headline REPEATS=4 median for base
            # against a SCALING_REPEATS=3 skew median mixes estimators
            base_s = time_key(key, sf_dir, SCALING_REPEATS)[0]
            skew_s = time_key(key, skew_dir, SCALING_REPEATS)[0]
            sk[key] = {"base": base_s, "skew": skew_s,
                       "ratio": round(skew_s / base_s, 2) if base_s else None}
        out["skew"] = {"dir": skew_dir, "queries": sk}

    # second upward decade: x100 synthesis for the linear core only
    sf10_dir = os.environ.get(
        "SPARK_GRAFT_SF10_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".synthdata", "sf10"))
    if sf10_dir and os.path.isdir(sf10_dir):
        print(f"# synth-sf10 run at {sf10_dir}", file=sys.stderr)
        huge = {}
        for key in SF10_QUERIES:
            if key in queries:
                huge[key] = time_key(key, sf10_dir, SF10_REPEATS)[0]
        out["sf10_synth"] = {
            "sf": 10.0,
            "dir": sf10_dir,
            "queries": huge,
            "total": round(sum(huge.values()), 3),
        }

    # every non-HEADLINE key (see coverage_keys above) — single
    # repeat, informational. Runs LAST, after every comparable
    # section: its heavy one-off jobs (the all-pairs baselines live
    # here) perturb JVM heap/GC state, and running it mid-bench in the
    # first r12 pass inflated the downstream sf1 section 1.4-2.4x on
    # untouched keys while the pre-coverage sections stayed flat —
    # section order is part of the run-over-run comparability contract.
    cov_keys = coverage_keys(queries)
    capped = sorted(set(cov_keys) & COVERAGE_CAP_SF001
                    if os.path.isdir(scale_dir) else set())
    print(f"# coverage: {len(cov_keys)} keys; sf0.01-capped baselines: "
          f"{capped}", file=sys.stderr)
    coverage = {k: time_key(k, scale_dir if k in capped else sf_dir,
                            COVERAGE_REPEATS)[0]
                for k in cov_keys}
    if coverage:
        out["coverage"] = {
            "repeats": COVERAGE_REPEATS,
            "queries": coverage,
            "capped_sf001": capped,
            "total": round(sum(coverage.values()), 3),
        }
    emit(out)


def emit(out: dict, full_path: str | None = None) -> None:
    """Write the full result to bench_full.json and print a compact
    JSON line bounded to fit the caller's capture window.

    The round driver keeps only the LAST ~2000 chars of output and
    parses the JSON line out of that tail. The full result outgrew
    that window at r6 (when the sf1_synth/skew/sf10 sections landed)
    — every driver-recorded BENCH_r{6..10}.json has parsed:null, with
    the tail starting mid-JSON. So: stdout gets ONE compact line
    (2-decimal medians; top queries by cost if even that overflows),
    always parseable; the byte-complete artifact the builder commits
    as BENCH_r{N}_local.json comes from the sidecar file."""
    full_path = full_path or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json")
    with open(full_path, "w") as fh:
        json.dump(out, fh)
        fh.write("\n")

    # r17 (VERDICT r16 item 2): the old overflow path trimmed the 8
    # CHEAPEST keys from "queries", which the driver's PERF read as
    # dropped_from_bench — dq_benford/events_funnel were mis-reported
    # dropped in r16 while both were timed and committed. A timed key
    # must NEVER disappear from the line. Shrink the ENCODING instead,
    # least-informative-field-first: drop the non-contract extras one
    # by one (full → n_queries → sf1_core_total → core_total), then
    # fall back to 1-decimal medians that keep only the "full"
    # sidecar pointer. Only if even that overflows,
    # replace the whole dict with {} + "queries_in" — complete-or-
    # absent, never silently partial. Budget: the capture tail is
    # exactly 2000 chars and this line is physically LAST in it —
    # stderr progress lines flush immediately while stdout is
    # block-buffered under a pipe and flushes at exit — so 100 chars
    # of trailing headroom suffices (r16's line ended its tail).
    budget = 1900
    extras_order = ["full", "n_queries", "sf1_core_total", "core_total"]

    def encode(ndec: int, extras: list) -> str:
        c = {"metric": out["metric"], "value": out["value"],
             "unit": "sec"}
        if "core_total" in extras:
            c["core_total"] = out["core_total"]
        if "n_queries" in extras:
            c["n_queries"] = len(out["queries"])
        c["queries"] = {k: round(v, ndec)
                        for k, v in out["queries"].items()}
        c["sf"] = out["sf"]
        if "full" in extras:
            c["full"] = "bench_full.json"
        if "sf1_core_total" in extras and "sf1_synth" in out:
            c["sf1_core_total"] = out["sf1_synth"]["core_total"]
        return json.dumps(c, separators=(",", ":"))

    candidates = [encode(2, extras_order[i:])
                  for i in range(len(extras_order) + 1)]
    candidates += [encode(1, extras_order), encode(1, ["full"])]
    for line in candidates:
        if len(line) <= budget:
            break
    else:
        fallback = {"metric": out["metric"], "value": out["value"],
                    "unit": "sec", "n_queries": len(out["queries"]),
                    "queries": {}, "queries_in": "bench_full.json",
                    "sf": out["sf"]}
        line = json.dumps(fallback, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
