"""Recall + candidate-bound tests for the ANN path (SURVEY §5.5).

The LSH kNN is the only approximate operator in the suite, so its
quality gate lives here instead of the DuckDB oracle: on a corpus
with PLANTED near-duplicates (cosine ~= 0.93 to their query), the
banded LSH must recover >= 0.9 of the exact brute-force top-k, while
generating materially fewer candidate pairs than the brute-force
cross product — both properties together are what "approximate but
useful" means.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from university_data_lakehouse_spark.operators import similarity
from university_data_lakehouse_spark.operators.similarity import (
    QUERY_MOD,
    TOP_K,
    lsh_candidates,
    lsh_signature,
    sim_knn_bruteforce,
    sim_knn_ivf,
    sim_knn_lsh,
    sim_knn_pq,
)

N_QUERIES = 5
N_PLANTED = TOP_K          # planted near-dups per query
N_NOISE = 400              # random background vectors
DIM = similarity.EMB_DIM


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """Corpus with known structure: for each query vector (vec_id a
    multiple of QUERY_MOD), N_PLANTED noisy copies (cos ~= 0.93 — a
    64-dim standard-normal noise vector has norm ~= 8 x its scale)
    plus a random background. Written as an embeddings.parquet dir so the
    operators run on it unchanged."""
    rng = np.random.default_rng(7)
    rows = []

    def unit(v):
        return v / np.linalg.norm(v)

    noise_id = 1_000_000  # far from any query-id residue class
    for k in range(N_QUERIES):
        qid = (k + 1) * QUERY_MOD
        qv = unit(rng.standard_normal(DIM))
        rows.append((qid, qv))
        for j in range(N_PLANTED):
            nv = unit(qv + 0.06 * rng.standard_normal(DIM))
            rows.append((qid + 1 + j, nv))
    for i in range(N_NOISE):
        vid = noise_id + i
        if vid % QUERY_MOD == 0:
            vid += 1
        rows.append((vid, unit(rng.standard_normal(DIM))))

    pdf = pd.DataFrame(
        {
            "vec_id": [int(r[0]) for r in rows],
            "embedding": [r[1].astype(np.float32).tolist() for r in rows],
            "label": [0] * len(rows),
        }
    )
    d = tmp_path_factory.mktemp("planted")
    sdf = spark.createDataFrame(pdf)
    sdf = sdf.withColumn(
        "embedding", sdf["embedding"].cast("array<float>")
    )
    sdf.write.mode("overwrite").parquet(os.path.join(str(d), "embeddings.parquet"))
    return str(d)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_lsh_recall_at_k(spark, planted_dir):
    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_lsh(spark, planted_dir))
    assert set(approx) <= set(exact)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(exact[q]) for q in exact)
    recall = hits / total
    assert recall >= 0.9, f"recall@{TOP_K} = {recall:.3f}"


def test_lsh_candidate_bound(spark, planted_dir):
    """OR-amplified banding must still prune: candidate pairs well
    under the brute-force queries x corpus cross product."""
    v = similarity._vectors(spark, planted_dir).withColumn(
        "sig", lsh_signature(similarity.F.col("v"))
    )
    q = v.where(similarity.F.col("vec_id") % QUERY_MOD == 0).select(
        similarity.F.col("vec_id").alias("query_id"),
        similarity.F.col("sig").alias("sig_q"),
    )
    n_corpus = v.count()
    n_queries = q.count()
    n_cands = lsh_candidates(v, q).count()
    assert n_queries == N_QUERIES
    # every planted near-dup should almost surely be a candidate, so
    # the floor is ~N_QUERIES * N_PLANTED; the ceiling is the pruning
    # claim: under half the brute-force pair count.
    assert n_cands < 0.5 * n_queries * n_corpus, (n_cands, n_queries * n_corpus)
    assert n_cands >= n_queries * N_PLANTED * 0.9


def test_ivf_recall_at_k(spark, planted_dir):
    """IVF with nprobe=2: a near-duplicate (cos ~0.93) of a query
    almost always shares the query's nearest or second-nearest
    coarse cell, so planted neighbors must be recovered."""
    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_ivf(spark, planted_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.9, f"ivf recall@{TOP_K} = {recall:.3f}"


def test_ivf_runs_on_testdata(spark, sf_dir):
    ivf = sim_knn_ivf(spark, sf_dir)
    bf = sim_knn_bruteforce(spark, sf_dir)
    assert ivf.columns == bf.columns
    # cosines of shared pairs match the exact computation bit-for-bit
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf.collect()}
    rows = ivf.collect()
    assert len(rows) > 0
    for r in rows:
        if (r.query_id, r.neighbor_id) in bf_scores:
            assert bf_scores[(r.query_id, r.neighbor_id)] == r.cosine


def test_lsh_runs_on_testdata(spark, sf_dir):
    """Smoke on the driver testdata: non-empty, schema matches the
    brute-force baseline."""
    lsh = sim_knn_lsh(spark, sf_dir)
    bf = sim_knn_bruteforce(spark, sf_dir)
    assert lsh.columns == bf.columns
    assert lsh.count() > 0


def test_signature_udf_matches_expression_fold(spark, sf_dir):
    """The Arrow/numpy signature kernel must be BIT-IDENTICAL to the
    definitional JVM left-fold expression on every row — the exactness
    contract that keeps the LSH operators oracle-checkable."""
    from pyspark.sql import functions as F

    from university_data_lakehouse_spark.operators.similarity import (
        lsh_signature_expr,
    )

    v = similarity._vectors(spark, sf_dir)
    neq = (
        v.select(
            (lsh_signature(F.col("v")) == lsh_signature_expr(F.col("v"))).alias("e")
        )
        .where(~F.col("e"))
        .count()
    )
    assert neq == 0


def test_ivf_probes_scan_fraction_of_corpus(spark, planted_dir):
    """The IVF cost-model claim (SURVEY §2.6): each query's probes
    cover ~IVF_NPROBE/IVF_CELLS of the corpus, so the re-rank touches
    a small fraction of the vectors brute force would."""
    from pyspark.sql import functions as F

    from university_data_lakehouse_spark.operators.similarity import (
        IVF_CELLS,
        IVF_NPROBE,
        _centroid_scores,
        _ivf_centroids,
        _vectors,
    )

    v = _vectors(spark, planted_dir).cache()
    centroids = _ivf_centroids(v)
    corpus = v.withColumn(
        "cell", F.array_max(_centroid_scores(centroids)).getField("cell")
    )
    cell_sizes = {r["cell"]: r["n"] for r in
                  corpus.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_corpus = sum(cell_sizes.values())
    probes = (
        v.where(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(_centroid_scores(centroids))),
                    1, IVF_NPROBE,
                ).getField("cell")
            ).alias("cell"),
        )
        .collect()
    )
    n_queries = len({r["query_id"] for r in probes})
    scanned = sum(cell_sizes.get(r["cell"], 0) for r in probes)
    frac = scanned / (n_queries * n_corpus)
    # nominal nprobe/K = 2/16 = 0.125; allow skewed cells up to ~4x
    assert frac < 4 * IVF_NPROBE / IVF_CELLS, frac
    assert frac < 0.5  # always a real saving vs brute force


def test_pq_recall_at_k(spark, planted_dir):
    """PQ with exact re-rank of the top PQ_RERANK ADC candidates: a
    planted near-dup (cos ~0.93) dominates every subspace dot, so the
    quantized score keeps it inside the re-rank window."""
    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_pq(spark, planted_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.9, f"pq recall@{TOP_K} = {recall:.3f}"


def test_pq_rerank_is_exact_and_bounded(spark, sf_dir):
    """Survivors carry EXACT cosines (bit-equal to brute force on
    shared pairs), and the ADC stage hands at most PQ_RERANK
    candidates per query to the exact re-rank."""
    from university_data_lakehouse_spark.operators.similarity import (
        PQ_RERANK,
        _pq_codebooks,
        _pq_codes,
        _vectors,
    )

    pq = sim_knn_pq(spark, sf_dir)
    bf = sim_knn_bruteforce(spark, sf_dir)
    bf_scores = {(r.query_id, r.neighbor_id): r.cosine for r in bf.collect()}
    rows = pq.collect()
    assert len(rows) > 0
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in bf_scores:
            assert r.cosine == bf_scores[key]       # bit-exact re-rank
    # the encoded corpus really is codes, not vectors
    v = _vectors(spark, sf_dir)
    codes = _pq_codes(v, _pq_codebooks(v))
    assert set(codes.columns) == {"vec_id", "code0", "code1", "code2",
                                  "code3"}
    n_queries = v.where(similarity.F.col("vec_id") % QUERY_MOD == 0).count()
    # ≤ PQ_RERANK survivors per query reach the exact stage; the final
    # output is further cut to TOP_K
    per_q: dict[int, int] = {}
    for r in rows:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert len(per_q) == n_queries
    assert all(c <= min(TOP_K, PQ_RERANK) for c in per_q.values())


def test_pq_kernel_matches_expression(spark, sf_dir):
    """The Arrow/numpy PQ assignment must be BIT-IDENTICAL to the
    definitional JVM fold expression on every row — same exactness
    contract as the LSH signature kernel."""
    from pyspark.sql import functions as F

    from university_data_lakehouse_spark.operators.similarity import (
        _pq_codebooks,
        _vectors,
        pq_assign_expr,
        pq_assign_kernel,
    )

    v = _vectors(spark, sf_dir)
    cb = _pq_codebooks(v)
    neq = (
        v.select(
            (pq_assign_kernel(cb)(F.col("v"))
             == pq_assign_expr(cb)).alias("e"))
        .where(~F.col("e"))
        .count()
    )
    assert neq == 0


def test_ivfpq_recall_at_k(spark, planted_dir):
    """The composed IVF-PQ path: a planted near-dup shares the query's
    probed cells AND survives ADC into the re-rank window."""
    from university_data_lakehouse_spark.operators.similarity import (
        sim_knn_ivfpq,
    )

    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_ivfpq(spark, planted_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.9, f"ivfpq recall@{TOP_K} = {recall:.3f}"


def test_random_projection_matrix_and_hand_values(spark, tmp_path):
    """The JL matrix is ±1, balanced, distinct-rowed and md5-frozen;
    a one-hot embedding projects to exactly its matrix column × 0.25,
    and the projection is linear (rp(2v) = 2·rp(v) bit-exactly —
    doubling a ±0.25 value is exact in binary)."""
    from university_data_lakehouse_spark.operators.similarity import (
        EMB_DIM,
        RP_DIM,
        _rp_matrix,
        emb_random_projection,
    )

    m = _rp_matrix()
    assert len(m) == RP_DIM and all(len(r) == EMB_DIM for r in m)
    assert all(x in (1, -1) for r in m for x in r)
    assert len({tuple(r) for r in m}) == RP_DIM
    frac = sum(x == 1 for r in m for x in r) / (RP_DIM * EMB_DIM)
    assert 0.4 < frac < 0.6, frac

    d = str(tmp_path / "emb")
    os.makedirs(d, exist_ok=True)
    onehot = [0.0] * EMB_DIM
    onehot[3] = 1.0
    pd.DataFrame({
        "vec_id": [0, 1],
        "embedding": [np.array(onehot, dtype=np.float32),
                      np.array([2 * x for x in onehot], dtype=np.float32)],
        "label": np.array([0, 0], dtype=np.int32),
    }).to_parquet(os.path.join(d, "embeddings.parquet"))
    out = {r["vec_id"]: r
           for r in emb_random_projection(spark, d).collect()}
    for j in range(RP_DIM):
        assert out[0][f"rp{j}"] == m[j][3] * 0.25
        assert out[1][f"rp{j}"] == 2 * out[0][f"rp{j}"]


def test_rp_knn_recall_at_k(spark, planted_dir):
    """The RP prefilter must keep the planted near-dups (cos ~0.93):
    a 16-dim JL projection distorts high-cosine pairs least, so the
    exact re-rank recovers >= 0.9 of the exact top-k. (On pure random
    noise recall is meaningless — every 'neighbor' is arbitrary —
    which is why the gate runs on the planted corpus like the rest of
    the ANN family.)"""
    from university_data_lakehouse_spark.operators.similarity import (
        sim_knn_rp,
    )

    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_rp(spark, planted_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.9, f"rp recall@{TOP_K} = {recall:.3f}"


def test_rp_kernel_matches_expression(spark, sf_dir):
    """r10: the Arrow/numpy JL-projection kernel (the ANN hot path —
    the definitional JVM fold measured interpreter-bound in the r10
    bench) must be BIT-identical to rp_project_expr on real data,
    the same pin the LSH signature and PQ kernels carry."""
    from university_data_lakehouse_spark.functions.vector import (
        as_double_vec,
    )
    from university_data_lakehouse_spark.operators.similarity import (
        rp_project_expr,
        rp_project_kernel,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    v = emb.select("vec_id", as_double_vec(
        similarity.F.col("embedding")).alias("v"))
    both = v.select(
        "vec_id",
        rp_project_expr(similarity.F.col("v")).alias("e"),
        rp_project_kernel(similarity.F.col("v")).alias("k"),
    ).collect()
    assert len(both) > 0
    for r in both:
        assert list(r["e"]) == list(r["k"]), r["vec_id"]


def test_dirty_corpus_filtered_and_oracle_parity(spark, tmp_path):
    """r10: invalid vectors (NULL, ragged, NaN-component) are
    FILTERED at every similarity pipeline's entry — the production
    contract (dq_embedding_health counts them; the index skips them)
    — with the identical predicate in the DuckDB oracle, so a dirty
    corpus keeps bit-exact parity and never emits NULL-scored rows."""
    import os

    import numpy as np
    import pandas as pd

    from tests.oracle_utils import compare
    from university_data_lakehouse_spark.operators.similarity import (
        ORACLES,
        emb_random_projection,
        sim_knn_bruteforce,
        sim_knn_ivf_rp,
        sim_knn_rp,
    )

    rng = np.random.default_rng(11)

    def unit():
        x = rng.standard_normal(64)
        return (x / np.linalg.norm(x)).astype(np.float32).tolist()

    # vec_ids 0..119: ids 0 and 100 are query vectors (% 100 == 0)
    rows = [(i, unit(), 0) for i in range(120)]
    rows[5] = (5, None, 0)                     # NULL vector
    rows[6] = (6, [1.0, 2.0], 0)               # ragged
    bad_nan = unit()
    bad_nan[3] = float("nan")                  # pandas/arrow writes
    rows[7] = (7, bad_nan, 0)                  # this as NULL component
    d = str(tmp_path / "emb")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "label": "int32"}
    ).to_parquet(os.path.join(d, "embeddings.parquet"))
    for key, fn in [
        ("sim_knn_bruteforce", sim_knn_bruteforce),
        ("sim_knn_rp", sim_knn_rp),
        ("sim_knn_ivf_rp", sim_knn_ivf_rp),
        ("emb_random_projection", emb_random_projection),
    ]:
        out = fn(spark, d)
        pdf = out.toPandas()
        bad = {5, 6, 7}
        for col in ("neighbor_id", "vec_id"):
            if col in pdf.columns:
                assert not (set(pdf[col]) & bad), (key, col)
        assert not pdf.isna().any().any(), key
        compare(fn(spark, d), ORACLES[key], d, name=f"{key}@dirty")
    spark.catalog.clearCache()


def test_kernels_null_rows_propagate_not_crash(spark, tmp_path):
    """r10 review: a NULL or wrong-dimension embedding must project/
    score/sign to NULL outputs — the JVM zip_with semantics — never
    ValueError the whole Arrow task (the rows dq_embedding_health is
    built to count must not kill the ANN queries)."""
    import os

    import numpy as np
    import pandas as pd

    from university_data_lakehouse_spark.functions.vector import (
        as_double_vec,
    )
    from university_data_lakehouse_spark.operators.similarity import (
        lsh_signature,
        rp_project_kernel,
    )

    d = str(tmp_path / "emb")
    os.makedirs(d, exist_ok=True)
    rows = [
        (0, np.full(64, 0.125, dtype=np.float32).tolist(), 0),
        (1, None, 0),
        (2, [1.0, 2.0, 3.0], 0),
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "label": "int32"}
    ).to_parquet(os.path.join(d, "embeddings.parquet"))
    emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    v = emb.select("vec_id", as_double_vec(
        similarity.F.col("embedding")).alias("v"))
    got = {r["vec_id"]: r for r in v.select(
        "vec_id",
        rp_project_kernel(similarity.F.col("v")).alias("vp"),
        lsh_signature(similarity.F.col("v")).alias("sig"),
    ).collect()}
    assert got[0]["vp"][0] is not None and got[0]["sig"][0] is not None
    for bad in (1, 2):
        assert all(x is None for x in got[bad]["vp"])
        assert all(x is None for x in got[bad]["sig"])


def test_ivf_rp_recall_at_k(spark, planted_dir):
    """r10: IVF with 16-dim projected cell assignment + probing must
    keep recall — a planted near-dup (cos ~0.93) stays close to its
    query after the JL projection, so the two land in the same (or a
    probed) projected cell and the exact full-dim re-rank recovers
    >= 0.9 of the exact top-k. Quantizer training is byte-identical
    to sim_knn_ivf; only the assignment/probe space changes."""
    from university_data_lakehouse_spark.operators.similarity import (
        sim_knn_ivf_rp,
    )

    exact = _topk_sets(sim_knn_bruteforce(spark, planted_dir))
    approx = _topk_sets(sim_knn_ivf_rp(spark, planted_dir))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    recall = hits / sum(len(exact[q]) for q in exact)
    assert recall >= 0.9, f"ivf_rp recall@{TOP_K} = {recall:.3f}"


_QUANTIZER_ORACLES = {
    "sim_knn_ivf": similarity._knn_ivf_oracle,
    "sim_knn_pq": similarity._knn_pq_oracle,
    "sim_knn_ivfpq": similarity._knn_ivfpq_oracle,
    "sim_knn_ivf_rp": similarity._knn_ivf_rp_oracle,
}


@pytest.fixture(scope="module")
def varied_norm_dir(tmp_path_factory):
    """600 vectors around 16 directions with norms spread over
    [0.5, 2): the medoid IVF update (max (score, vec_id), score =
    |v| cos) then really moves the centroids. On the unit-norm test
    corpora it does not — each seed wins its own cell, so the trained
    centroids equal the normalized seeds whatever the sample."""
    rng = np.random.default_rng(5)
    dirs = rng.standard_normal((16, DIM))
    rows = []
    for i in range(600):
        x = dirs[i % 16] + 0.5 * rng.standard_normal(DIM)
        x *= rng.uniform(0.5, 2.0) / np.linalg.norm(x)
        rows.append((i, x.astype(np.float32).tolist(), 0))
    d = str(tmp_path_factory.mktemp("varied_norm"))
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).astype(
        {"vec_id": "int64", "label": "int32"}
    ).to_parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_capped_training_changes_the_quantizer(spark, varied_norm_dir,
                                               monkeypatch):
    """The cap is live: training on the 64 smallest-md5 vectors instead
    of the ~300 of the uncapped md5 sample yields other centroids, so
    the capped parity test below is not the uncapped one in disguise."""
    v = similarity._vectors(spark, varied_norm_dir)
    full = similarity._training_set(v)
    monkeypatch.setattr(similarity, "TRAIN_CAP", 64)
    capped = similarity._training_set(v)
    assert len(capped[0]) == capped[2] == 64 < full[2]
    assert (similarity._ivf_centroids(v, capped)
            != similarity._ivf_centroids(v, full))


@pytest.mark.parametrize("key", sorted(_QUANTIZER_ORACLES))
def test_capped_training_matches_rebuilt_oracle(spark, varied_norm_dir,
                                                monkeypatch, key):
    """Where the training cap binds: at the test scales the md5 sample
    (~250 vectors) stays under TRAIN_CAP, so the parity suite never
    exercises the LIMIT. With the cap at 64 the Spark side trains on
    the 64 smallest-md5 vectors only, and must stay hash-equal to its
    oracle rebuilt with the same cap."""
    from tests.oracle_utils import compare

    monkeypatch.setattr(similarity, "TRAIN_CAP", 64)
    oracle = _QUANTIZER_ORACLES[key]()
    assert "LIMIT 64" in oracle
    compare(getattr(similarity, key)(spark, varied_norm_dir), oracle,
            varied_norm_dir, name=f"{key}@cap64")


# Warm Spark jobs per key at the test scale with driver-side training.
# With one Spark job per Lloyd round the same keys ran 10 / 11 / 15
# jobs (sim_knn_ivfpq's 15 include the 8 its training thread pool
# submitted outside the caller's job group).
_QUANTIZER_JOB_BUDGET = {"sim_knn_ivf": 5, "sim_knn_pq": 6,
                         "sim_knn_ivfpq": 6}


@pytest.mark.parametrize("key", sorted(_QUANTIZER_JOB_BUDGET))
def test_quantizer_warm_job_budget(spark, sf_dir, jobs_in_group, key):
    """Training is one collect, whatever IVF_ITERS/PQ_ITERS are: a warm
    run stays within the measured job count."""
    fn = getattr(similarity, key)
    fn(spark, sf_dir).count()
    spark.catalog.clearCache()
    jobs = jobs_in_group(f"job-budget-{key}",
                         lambda: fn(spark, sf_dir).count())
    spark.catalog.clearCache()
    assert jobs <= _QUANTIZER_JOB_BUDGET[key], jobs
