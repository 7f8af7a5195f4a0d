"""Similarity search over embedding columns (SURVEY §2.6).

Brute-force exact cosine top-k is the correctness baseline (and the
DuckDB-oracle-checkable one); random-hyperplane LSH bucketing is the
scale path (candidates only within matching signature buckets).

Determinism: dot products are strict left folds over double-cast
arrays — identical IEEE results in Spark (F.aggregate) and DuckDB
(list_reduce), see functions/vector.py. Ranking ties break on vec_id.

Scale notes (SURVEY §6): signatures are computed in one narrow map
stage (JVM codegen, no Python); the query side is tiny and broadcast,
so brute force is a broadcast-nested-loop over a partitioned scan —
embarrassingly parallel; LSH replaces the full scan per query with
per-bucket joins.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..functions.joins import maybe_broadcast
from ..functions.vector import as_double_vec, dot
from ..sources.loader import load_table, scatter

TOP_K = 10
QUERY_MOD = 100          # vec_id % 100 == 0 → query set
# Banding tuned for PRUNING, not just recall: with b bands of r bits,
# a random pair (cos ~ 0) collides with prob ~ b * 2^-r while a strong
# pair (cos 0.8, p = 1 - theta/pi ~ 0.795) survives with
# 1-(1-p^r)^b. r3's b=6 x r=4 had 0.95 recall but let ~37% of ALL
# pairs through as candidates — the verify stage, not the signature,
# was the cost. b=16 x r=8 keeps recall(0.8) ~ 0.94 and recall(0.93)
# ~ 0.999 while cutting the random-collision rate to 16/256 ~ 6%.
LSH_PLANES = 128         # hyperplane signature bits (bands * rows)
LSH_BAND_ROWS = 8        # AND-amplification within a band
LSH_BANDS = LSH_PLANES // LSH_BAND_ROWS  # OR-amplification across bands
EMB_DIM = 64


def _valid_vec(col: F.Column) -> F.Column:
    """A vector an ANN index can score: non-NULL, exactly EMB_DIM
    long, no NULL/NaN/±Inf components. Every similarity pipeline
    filters on this BEFORE any kernel or fold — invalid vectors are
    a DQ finding (dq_embedding_health counts them), not index
    members — and the oracles apply the identical SQL predicate
    (_SQL_VALID_VEC), so dirty corpora keep bit-exact parity."""
    bad = F.exists(
        col,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == float("inf")),
    )
    return col.isNotNull() & (F.size(col) == EMB_DIM) & ~bad


# the oracle-side twin of _valid_vec (DuckDB)
_SQL_VALID_VEC = (
    "embedding IS NOT NULL AND len(embedding) = 64 "
    "AND len(list_filter(embedding, x -> x IS NULL "
    "OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0"
)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Compact on purpose: neither scatter()ed nor cached here. The heavy
    # per-row stages scatter their own input (the quantizer keys' encode
    # pass, sim_knn_bruteforce's join) or inherit shuffle parallelism
    # from the band/candidate exchanges; the quantizers' one training
    # collect and the small query side read the narrow scan. Caching it
    # in the quantizer keys cost one job per key and saved no time once
    # training moved to the driver (interleaved A/B on 4 cores, summed
    # medians of sim_knn_ivf/pq/ivfpq/ivf_rp: sf0.01 8.57 s cached vs
    # 7.78 s uncached over 8 pairs, sf0.1 8.84 vs 8.05 s over 6).
    emb = load_table(spark, sf_dir, "embeddings").where(
        _valid_vec(F.col("embedding")))
    return emb.select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))


def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector: broadcast the (small) query
    side against the full collection, rank per query."""
    v = _vectors(spark, sf_dir)
    q = v.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
    )
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    # scatter the corpus side of the nested-loop: the O(n·q) cosine
    # folds are evaluated on the join's probe partitions, so a single-
    # row-group scan would run ALL of them on one core (guide §2.5);
    # no-op once the scan is already at cluster parallelism.
    return (
        F.broadcast(q)
        .join(scatter(v, min_input_bytes=2 << 20),
              F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def _hyperplanes() -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes seeded by md5 — the
    same planes on every run/engine (public construction: Charikar
    random-hyperplane LSH with a derandomized sign source)."""
    planes = []
    for j in range(LSH_PLANES):
        row = []
        for i in range(EMB_DIM):
            h = hashlib.md5(f"{j}:{i}".encode()).hexdigest()
            row.append(1 if h[0] >= "8" else -1)
        planes.append(row)
    return planes


def lsh_signature_expr(vec_col: F.Column) -> F.Column:
    """JVM-expression signature (strict left-fold dots) — the
    definitional reference implementation. Interpreter-bound at 128
    planes (~1 ms/row: Spark higher-order functions do not codegen),
    so the hot path uses the Arrow/numpy twin ``lsh_signature`` below;
    tests pin the two bit-identical (test_similarity)."""
    planes = _hyperplanes()
    bands = []
    for b in range(LSH_BANDS):
        bits = []
        for i in range(LSH_BAND_ROWS):
            row = planes[b * LSH_BAND_ROWS + i]
            plane = F.array(*[F.lit(float(x)) for x in row])
            bits.append(
                F.when(dot(vec_col, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
            )
        val = bits[0]
        for x in bits[1:]:
            val = val + x
        bands.append(val)
    return F.array(*bands)


def _fold_dots(vecs: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(N, K) dots of N row vectors with the K rows of ``mat`` as a
    STRICT LEFT FOLD: acc starts at 0.0 and gains vecs[:, k] * mat[:, k]
    one k at a time — vectorized across (rows x K), sequential over k,
    the same IEEE operation order as F.aggregate and the oracles'
    list_reduce. The one dot kernel of the LSH signature, the JL
    projection, IVF cell scoring and driver-side IVF training."""
    acc = np.zeros((len(vecs), mat.shape[0]))
    for k in range(mat.shape[1]):
        acc += vecs[:, k:k + 1] * mat[:, k][None, :]
    return acc


@pandas_udf(ArrayType(IntegerType()))
def lsh_signature(v: pd.Series) -> pd.Series:
    """Band-packed signature: array of LSH_BANDS ints, band b's value
    packing the signs of planes [b*r, (b+1)*r) as bits (bit i = sign
    of <v, plane_{b*r+i}>).

    Arrow-batched numpy kernel — the one place a Pandas UDF beats the
    built-ins: 128 dense 64-dim dots/row are ~1 ms in Spark's
    interpreted higher-order functions vs ~1 µs vectorized. The
    summation REPLAYS THE STRICT LEFT FOLD bit-for-bit: acc starts at
    0.0 and gains v[k]*s[k] one k at a time (vectorized across
    (rows × planes), sequential over k — the same IEEE operation
    order as F.aggregate and as the oracle's 0.0 + vv[1] - vv[2] ...
    chains; products by ±1.0 are exact sign flips). Signs, hence
    band values, are therefore identical to lsh_signature_expr and
    to DuckDB (pytest-pinned + oracle-checked) on the _valid_vec rows
    every pipeline pre-filters to; invalid rows get NULL band arrays
    as a never-ValueError backstop (they never arrive in-pipeline)."""
    mat = np.array(_hyperplanes(), dtype=np.float64)      # (P, 64) of ±1
    weights = 1 << np.arange(LSH_BAND_ROWS)
    out = [[None] * LSH_BANDS for _ in range(len(v))]
    idxs, vecs = _clean_rows(v, EMB_DIM)
    if len(vecs):
        bits = (_fold_dots(vecs, mat) > 0).astype(np.int64)  # (N, P)
        bands = (bits.reshape(len(vecs), LSH_BANDS, LSH_BAND_ROWS)
                 * weights).sum(axis=2)
        for j, i in enumerate(idxs):
            out[i] = bands[j].astype("int32").tolist()
    return pd.Series(out, dtype=object)


def lsh_band_sql_cols(vec_expr: str = "vv") -> str:
    """DuckDB twin of lsh_signature: one ``... AS b{j}`` select-list
    expression per band, over a pre-cast double list column
    (``vv``). Because the planes are ±1, each dot is emitted as a
    direct left-associated ``0.0 + vv[i] - vv[j] ...`` chain — the
    bit-identical IEEE replay of Spark's strict left fold
    (``x * ±1.0 ≡ ±x``, ``a - b ≡ a + (-b)``) that DuckDB can
    vectorize, instead of 128 interpreter-bound list_reduce lambdas
    (~20x faster oracle)."""
    planes = _hyperplanes()
    cols = []
    for b in range(LSH_BANDS):
        terms = []
        for i in range(LSH_BAND_ROWS):
            row = planes[b * LSH_BAND_ROWS + i]
            d = "0.0" + "".join(
                f" {'+' if s > 0 else '-'} {vec_expr}[{k + 1}]"
                for k, s in enumerate(row)
            )
            terms.append(f"(CASE WHEN ({d}) > 0 THEN {1 << i} ELSE 0 END)")
        cols.append("(" + " + ".join(terms) + f") AS b{b}")
    return ", ".join(cols)


# band melt shared by the sim_knn_lsh / dedup_embedding_lsh oracles:
# unnest j over range(0, LSH_BANDS), value = CASE j WHEN 0 THEN b0 ...
BAND_SQL = (
    "CASE j "
    + " ".join(f"WHEN {b} THEN b{b}" for b in range(LSH_BANDS))
    + " END"
)


def lsh_candidates(v_sig: DataFrame, q_sig: DataFrame) -> DataFrame:
    """(query_id, vec_id) candidate pairs: a pair is a candidate iff
    ANY of the b bands matches (OR-amplification). The corpus side
    carries only (vec_id, band, band_sig) through the explode — never
    the vector — so the widened stage is ~b small rows per vector; the
    query side is broadcast. Collision probability for a neighbor at
    angle theta is 1-(1-p^r)^b with p = 1 - theta/pi: ~0.94 at
    cos 0.8, ~0.999 at cos 0.93, vs ~6% for a random pair."""
    v_b = v_sig.select(
        "vec_id", F.posexplode(F.col("sig")).alias("band", "bsig")
    )
    q_b = q_sig.select(
        "query_id", F.posexplode(F.col("sig_q")).alias("band", "bsig")
    )
    return (
        v_b.join(F.broadcast(q_b), ["band", "bsig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )


def sim_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via banded random-hyperplane LSH: candidates
    are the union of per-band bucket matches (lsh_candidates), then an
    exact cosine re-rank touches ONLY candidate vectors. Approximate
    RELATIVE TO brute force, but fully deterministic (md5-seeded
    planes, vec_id tie-breaks) — so the whole pipeline replays in
    DuckDB SQL and the operator is ORACLE-CHECKED (same technique as
    dedup_embedding_lsh); recall@k vs brute force and the
    candidate-count bound are additionally asserted in
    tests/test_similarity.py."""
    # cache: the signature stage (24 higher-order-function folds per
    # row) feeds the corpus band table, the query side, AND the
    # re-rank; the InMemoryRelation barrier materializes it once.
    # At 100 TB signatures would be a written table (computed once,
    # reused across query batches).
    v = _vectors(spark, sf_dir).withColumn(
        "sig", lsh_signature(F.col("v"))
    ).cache()
    q = v.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
        F.col("sig").alias("sig_q"),
    )
    cands = lsh_candidates(v, q)
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cands.join(
            # size-gated broadcast of the vector side (guide §3.1): its
            # Catalyst estimate sits just over the 10 MB auto threshold at
            # sf1, flipping the re-rank join to sort-merge — a shuffle of
            # the candidate table; above the gate AQE still decides
            maybe_broadcast(v.select("vec_id", "v", "nrm"),
                            max_bytes=64 << 20), "vec_id")
        .join(F.broadcast(q.select("query_id", "v_q", "n_q")), "query_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


IVF_CELLS = 16           # coarse-quantizer centroids
IVF_NPROBE = 2           # cells probed per query
IVF_ITERS = 2            # Lloyd refinement rounds

PQ_M = 4                     # subspaces
PQ_SUB = EMB_DIM // PQ_M     # dims per subspace
PQ_K = 8                     # codebook entries per subspace
PQ_ITERS = 2                 # Lloyd rounds per subspace quantizer
PQ_RERANK = 4 * TOP_K        # ADC candidates exact-re-ranked per query

# Quantizer-training sample: Lloyd rounds see only vectors with
# md5(vec_id) < this hex digit — a deterministic ~int(h,16)/16 fraction
# ('8' = 1/2). md5 is an engine-stable string compare, and the
# md5-ordered seed pick is a subset of any md5-prefix sample by
# construction, so the whole sampled training replays bit-for-bit in
# the DuckDB oracle.
TRAIN_SAMPLE_HEX = "8"
# ...and at most this many of them: the FAISS practice of ~256 training
# points per centroid held in one place (Johnson, Douze, Jégou,
# "Billion-scale similarity search with GPUs"). The cap bounds the
# driver-side training at any corpus size; encoding and probing still
# cover every vector. The oracles apply the same ORDER BY md5 LIMIT.
TRAIN_CAP = 256 * max(IVF_CELLS, PQ_K)


def _training_set(v: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """The quantizers' whole training input in ONE TakeOrdered job:
    the TRAIN_CAP rows of smallest md5(vec_id), in that order, as
    ``(vectors, vec_ids, n_sample)``. The seeds of both quantizers are
    its first rows (an engine-independent pseudorandom pick), and the
    Lloyd training sample is its first ``n_sample`` rows — the prefix
    with md5 < TRAIN_SAMPLE_HEX. At most TRAIN_CAP x EMB_DIM doubles
    (2 MiB) reach the driver."""
    rows = (
        v.select("vec_id", "v",
                 F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h")
        .limit(TRAIN_CAP)
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64).reshape(
        len(rows), EMB_DIM)
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    return mat, ids, sum(r["h"] < TRAIN_SAMPLE_HEX for r in rows)


def _last_per_group(*keys: np.ndarray) -> np.ndarray:
    """Row indices of the lexicographically LARGEST (keys[1], keys[2],
    ...) row within each distinct keys[0] — the driver-side twin of a
    ``groupBy(keys[0]).agg(max(struct(...)))``."""
    order = np.lexsort(keys[::-1])
    g = keys[0][order]
    last = np.ones(len(order), dtype=bool)
    last[:-1] = g[1:] != g[:-1]
    return order[last]


def _clean_rows(v: pd.Series, dim: int):
    """Split an Arrow batch of vectors into (indices, dense matrix)
    of the rows satisfying the ``_valid_vec`` contract: non-NULL,
    exactly ``dim``-long, all components finite (Arrow delivers a
    NULL list element to pandas as NaN inside a well-shaped float
    array, so the finite check covers the NULL-component spelling
    too). Everything else gets NULL outputs from the caller — a
    BACKSTOP only: every similarity pipeline filters on _valid_vec
    before the kernels, so in-pipeline these rows never arrive; the
    guard exists so one bad row can never ValueError a whole Arrow
    task (r10 review)."""
    idxs, rows = [], []
    for i, x in enumerate(v):
        if x is None:
            continue
        try:
            a = np.asarray(x, dtype=np.float64)
        except (TypeError, ValueError):
            continue
        if a.shape != (dim,) or not np.isfinite(a).all():
            continue
        idxs.append(i)
        rows.append(a)
    mat = (np.vstack(rows) if rows
           else np.zeros((0, dim), dtype=np.float64))
    return idxs, mat


def _centroid_scores(centroids: list[list[float]],
                     col: str = "v") -> F.Column:
    """Array of (score-to-centroid, cell-idx) structs for a vector
    column. Centroids are pre-normalized driver-side, so the score is
    one dot per cell.

    The K dense dots ride the same Arrow/numpy left-fold kernel as
    lsh_signature (sequential accumulation over k — bit-identical to
    F.aggregate and to the oracle's SQL folds); the struct array is
    then assembled JVM-side from the materialized score array so the
    existing array_max / array_sort tie-break semantics (max score,
    ties → max cell) are untouched. The fold length follows the
    centroid dimensionality, so the same kernel serves the 64-dim
    full-space quantizer and the 16-dim RP-probed variant."""
    mat = np.array(centroids, dtype=np.float64)
    dim = mat.shape[1]

    @pandas_udf(ArrayType(DoubleType()))
    def scores_np(v: pd.Series) -> pd.Series:
        out = [[None] * mat.shape[0] for _ in range(len(v))]
        idxs, vecs = _clean_rows(v, dim)
        if len(vecs):
            acc = _fold_dots(vecs, mat)
            for j, i in enumerate(idxs):
                out[i] = acc[j].tolist()
        return pd.Series(out, dtype=object)

    scores = scores_np(F.col(col))
    return F.array(
        *[
            F.struct(scores[i].alias("score"), F.lit(i).alias("cell"))
            for i in range(len(centroids))
        ]
    )


def _ivf_centroids(v: DataFrame, train: tuple | None = None) -> list[list[float]]:
    """Deterministic coarse quantizer: seed cells with the IVF_CELLS
    vectors of smallest md5(vec_id) (engine-independent pseudorandom
    pick), then IVF_ITERS Lloyd-style rounds over the deterministic
    md5 TRAINING SAMPLE (TRAIN_SAMPLE_HEX, capped at TRAIN_CAP). Both
    come from ONE collect (``_training_set``, or ``train`` when the
    caller already holds it), and the rounds run on the driver in
    numpy — at most TRAIN_CAP vectors ever reach it, and no round
    launches a Spark job. Assignment is the ``_fold_dots`` kernel the
    encode pass uses (max score, ties → the larger cell, as
    array_max over (score, cell) structs).

    The update is MEDOID-style: each cell's new centroid is the
    normalized member vector best aligned with the old centroid
    (max (score, vec_id)). Unlike a float mean — whose value depends
    on summation order, and whose decimal-exact rewrite is not
    cross-engine-stable (double→decimal casts round shortest-repr
    HALF_UP in Spark vs true-binary half-even in DuckDB, see
    functions/money.py) — the max is exact and order-independent, so
    the whole quantizer replays bit-for-bit in the DuckDB oracle."""
    mat, ids, n = train if train is not None else _training_set(v)
    centroids = [_normalize(r) for r in mat[:IVF_CELLS].tolist()]
    vt, vid = mat[:n], ids[:n]
    for _ in range(IVF_ITERS):
        scores = _fold_dots(vt, np.array(centroids))
        # argmax of the reversed row = the LAST maximum = larger cell
        cell = scores.shape[1] - 1 - np.argmax(scores[:, ::-1], axis=1)
        best = scores[np.arange(n), cell]
        # cells with no members keep their centroid
        for j in _last_per_group(cell, best, vid):
            centroids[cell[j]] = _normalize(vt[j].tolist())
    return centroids


def _normalize(vec: list[float]) -> list[float]:
    # math.sqrt (correctly-rounded IEEE) + left-fold sum, so the same
    # expression replays exactly as sqrt(list_reduce(...)) in DuckDB
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def sim_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: a
    deterministic-seeded k-means coarse quantizer buckets the corpus
    into IVF_CELLS cells; each query probes its IVF_NPROBE nearest
    cells and exact-cosine re-ranks ONLY the vectors in those cells —
    the classic cells x nprobe/K cost model (~nprobe/K of the corpus
    scanned per query vs all of it for brute force).

    Approximate RELATIVE TO brute force, but — with the medoid-style
    centroid update (_ivf_centroids) — fully deterministic and exact
    in every arithmetic step, so the entire quantizer + probe + re-rank
    pipeline replays in DuckDB SQL and the operator is ORACLE-CHECKED.
    Recall vs brute force is additionally pytest-gated in
    tests/test_similarity.py.
    """
    v = _vectors(spark, sf_dir)
    centroids = _ivf_centroids(v)
    # scatter BEFORE the assignment kernel: the exchange sits under
    # the per-row scoring and the probe join, so both parallelize off
    # the compact scan (§2.5); no-op on wide scans
    corpus = scatter(v, min_input_bytes=2 << 20).withColumn(
        "cell", F.array_max(_centroid_scores(centroids)).getField("cell")
    )
    q = v.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
        F.col("v").alias("v"),  # for _centroid_scores
    )
    probes = q.select(
        "query_id", "v_q", "n_q",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_centroid_scores(centroids))),
                1, IVF_NPROBE,
            ).getField("cell")
        ).alias("cell"),
    ).drop("v")
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        F.broadcast(probes)
        .join(corpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


# --- product quantization ------------------------------------------------


def _sqdist(sub_col: F.Column, cvals: list[float]) -> F.Column:
    """Strict left-fold squared L2 distance to a literal centroid —
    bit-identical to the DuckDB list_reduce replay (terms are squares,
    so the 0.0-init fold equals the no-init fold exactly)."""
    arr = F.array(*[F.lit(float(x)) for x in cvals])
    return F.aggregate(
        F.zip_with(sub_col, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def pq_assign_expr(cb: list[list[list[float]]]) -> F.Column:
    """Definitional JVM-expression assignment: array of 2*PQ_M
    doubles [code_0..code_3, dist_0..dist_3] (nearest codebook entry +
    its squared distance per subspace, first-min tie-break).
    Interpreter-bound at PQ_M x PQ_K folds per row — the hot path uses
    the Arrow/numpy twin ``pq_assign_kernel``; tests pin the two
    bit-identical (test_similarity)."""
    codes, dists = [], []
    for m in range(PQ_M):
        sl = F.slice("v", m * PQ_SUB + 1, PQ_SUB)
        sc = F.array(*[_sqdist(sl, cb[m][k]) for k in range(PQ_K)])
        codes.append((F.array_position(sc, F.array_min(sc)) - 1)
                     .cast("double"))
        dists.append(F.array_min(sc))
    return F.array(*codes, *dists)


def _pq_sqdists(vecs: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(N, PQ_M, K) squared L2 distances of every subvector to every
    codebook entry (``cb`` is (PQ_M, K, PQ_SUB)): vectorized across
    (rows x subspaces x codes), SEQUENTIAL over the dimension axis —
    acc starts at 0.0 and gains (v_i - c_i)^2 one i at a time, the
    same IEEE operation order as F.aggregate and the oracle's
    list_reduce. Shared by the encode kernel and driver-side
    training."""
    sub = vecs.reshape(len(vecs), PQ_M, PQ_SUB)
    acc = np.zeros((len(vecs), PQ_M, cb.shape[1]))
    for i in range(PQ_SUB):                       # strict left fold
        diff = sub[:, :, None, i] - cb[None, :, :, i]
        acc += diff * diff
    return acc


def pq_assign_kernel(cb: list[list[list[float]]]):
    """Arrow/numpy twin of pq_assign_expr over ``_pq_sqdists``, so
    codes and distances are bit-identical (pytest-pinned). np.argmin
    tie-breaks to the first (smallest k) exactly like
    array_position(array_min)."""
    C = np.array(cb, dtype=np.float64)            # (M, K, PQ_SUB)

    @pandas_udf(ArrayType(DoubleType()))
    def assign(v: pd.Series) -> pd.Series:
        res = [[None] * (2 * PQ_M) for _ in range(len(v))]
        idxs, vecs = _clean_rows(v, EMB_DIM)
        if len(vecs):
            acc = _pq_sqdists(vecs, C)
            codes = np.argmin(acc, axis=2).astype(np.float64)
            dmin = np.min(acc, axis=2)
            out = np.concatenate([codes, dmin], axis=1)
            for j, i in enumerate(idxs):
                res[i] = out[j].tolist()
        return pd.Series(res, dtype=object)

    return assign


def _pq_codebooks(v: DataFrame,
                  train: tuple | None = None) -> list[list[list[float]]]:
    """Deterministic per-subspace quantizers: seeds are the PQ_K
    vectors of smallest md5(vec_id), sliced per subspace (md5(vec_id)
    does not depend on the subspace, so every subspace seeds from the
    same K vectors), then PQ_ITERS medoid-style Lloyd rounds — the new
    entry is the member subvector CLOSEST to the old entry
    (min (dist, vec_id)): exact and order-independent, so the whole
    training replays in SQL (same argument as _ivf_centroids,
    including the capped md5 training sample). Seeds and sample come
    from the same single collect as the coarse quantizer's, and the
    rounds run on the driver in numpy."""
    mat, ids, n = train if train is not None else _training_set(v)
    cb = mat[:PQ_K].reshape(-1, PQ_M, PQ_SUB).transpose(1, 0, 2).copy()
    vt, vid = mat[:n], ids[:n]
    sub = vt.reshape(n, PQ_M, PQ_SUB)
    for _ in range(PQ_ITERS):
        d = _pq_sqdists(vt, cb)
        code, dmin = np.argmin(d, axis=2), np.min(d, axis=2)
        for m in range(PQ_M):                   # empty codes keep entries
            # the champion of each code: min (d, vec_id), i.e. the
            # last of max (-d, -vec_id)
            for j in _last_per_group(code[:, m], -dmin[:, m], -vid):
                cb[m, code[j, m]] = sub[j, m]
    return cb.tolist()


def _pq_codes(v: DataFrame, cb: list[list[list[float]]]) -> DataFrame:
    """Encode every vector as PQ_M small codes — the 100 TB payoff:
    the ADC scan reads PQ_M bytes per vector instead of EMB_DIM
    floats (~32x less IO at these parameters). Arrow-batched."""
    cd = pq_assign_kernel(cb)(F.col("v"))
    return v.select(
        "vec_id",
        *[F.element_at(cd, m + 1).cast("int").alias(f"code{m}")
          for m in range(PQ_M)],
    )


def sim_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION (the public
    IVF-PQ/ADC design, compression half): per-subspace codebooks
    trained by deterministic medoid Lloyd rounds, the corpus encoded
    to PQ_M codes per vector, queries scored against the CODES by
    asymmetric distance (sum over subspaces of <q_m, codebook
    entry>), and only the top PQ_RERANK ADC candidates re-ranked by
    exact cosine. Complements sim_knn_ivf: IVF cuts the fraction of
    the corpus SCANNED, PQ cuts the bytes per vector scanned.

    Fully deterministic (seeded medoid training, strict left-fold
    ADC in fixed subspace order) — the entire train/encode/score
    pipeline replays in DuckDB SQL, so the approximate path itself is
    ORACLE-CHECKED; recall vs brute force is pytest-gated."""
    v = _vectors(spark, sf_dir)
    cb = _pq_codebooks(v)
    codes = _pq_codes(scatter(v, min_input_bytes=2 << 20), cb)  # §2.5
    q = v.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
    )
    # per-QUERY lookup tables: <q_m, codebook[m][k]> folds run once per
    # (query, m, k) — queries x M x K dots total — so the per-pair ADC
    # below is pure array indexing + 3 adds, never a fold (the
    # classic ADC LUT; arithmetic unchanged, just hoisted)
    luts = []
    for m in range(PQ_M):
        qs = F.slice("v_q", m * PQ_SUB + 1, PQ_SUB)
        luts.append(F.array(*[
            F.aggregate(
                F.zip_with(
                    qs,
                    F.array(*[F.lit(float(x)) for x in cb[m][k]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0), lambda acc, x: acc + x)
            for k in range(PQ_K)
        ]).alias(f"lut{m}"))
    q = q.select("query_id", "v_q", "n_q", *luts)
    parts = [
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1)
        for m in range(PQ_M)
    ]
    adc = ((parts[0] + parts[1]) + parts[2]) + parts[3]
    wadc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id"))
    cand = (
        F.broadcast(q)
        .join(codes, F.col("vec_id") != F.col("query_id"))
        .withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(wadc))
        .where(F.col("rn") <= PQ_RERANK)
        .select("query_id", "v_q", "n_q", "vec_id")
    )
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.join(maybe_broadcast(v, max_bytes=64 << 20),  # §3.1 gate
                  "vec_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cosine", "rank")
    )


def sim_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ index — the canonical billion-scale ANN
    layout: the coarse quantizer cuts the FRACTION of the corpus each
    query scans (~nprobe/K), and within the probed cells the scan
    reads only PQ CODES scored by ADC lookup tables (~32x fewer bytes
    per vector), with an exact cosine re-rank of the top candidates.
    PQ trains on raw vectors (not residuals) so both quantizers stay
    independently deterministic and the WHOLE composition — coarse
    training, PQ training, encoding, probing, ADC, re-rank — replays
    in DuckDB SQL: ORACLE-CHECKED, like its two halves.

    Training is fixed-cost: one collect of at most TRAIN_CAP vectors
    feeds both quantizers, whose Lloyd rounds then run on the driver.
    At 100 TB the index is trained/encoded ONCE and persisted; the
    per-query-batch cost is the probed-cell code scan + re-rank,
    which is the part that scales."""
    v = _vectors(spark, sf_dir)
    # ONE collect trains both quantizers: PQ trains on raw vectors, not
    # residuals (see docstring), so both read the same md5-ordered rows
    train = _training_set(v)
    centroids, cb = _ivf_centroids(v, train), _pq_codebooks(v, train)
    cd = pq_assign_kernel(cb)(F.col("v"))
    corpus = scatter(v, min_input_bytes=2 << 20).select(  # §2.5
        "vec_id",
        F.array_max(_centroid_scores(centroids)).getField("cell").alias("cell"),
        *[F.element_at(cd, m + 1).cast("int").alias(f"code{m}")
          for m in range(PQ_M)],
    )
    q = v.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
        F.col("v").alias("v"),          # for _centroid_scores
    )
    luts = []
    for m in range(PQ_M):
        qs = F.slice("v_q", m * PQ_SUB + 1, PQ_SUB)
        luts.append(F.array(*[
            F.aggregate(
                F.zip_with(
                    qs,
                    F.array(*[F.lit(float(x)) for x in cb[m][k]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0), lambda acc, x: acc + x)
            for k in range(PQ_K)
        ]).alias(f"lut{m}"))
    probes = q.select(
        "query_id", "v_q", "n_q", *luts,
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_centroid_scores(centroids))),
                1, IVF_NPROBE,
            ).getField("cell")
        ).alias("cell"),
    )
    parts = [
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1)
        for m in range(PQ_M)
    ]
    adc = ((parts[0] + parts[1]) + parts[2]) + parts[3]
    wadc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id"))
    cand = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(wadc))
        .where(F.col("rn") <= PQ_RERANK)
        .select("query_id", "v_q", "n_q", "vec_id")
    )
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.join(maybe_broadcast(v, max_bytes=64 << 20),  # §3.1 gate
                  "vec_id")
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cosine", "rank")
    )


CENTROID_Q = 1_000_000_000  # fixed-point quantum: 1e-9 per unit


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the class-prototype statistic
    behind nearest-centroid classifiers, cluster drift monitors, and
    label-quality audits. Output is LONG format (label, dimension,
    centroid component): no array re-assembly, so the plan is
    posexplode (narrow, bounded ×64 fan-out) → ONE map-side-
    combinable aggregation on (label, pos) — label-count × dim output
    rows, metadata-sized at any corpus scale.

    Determinism: a float mean over group ROWS is order-dependent in
    IEEE double, so each component is quantized first —
    floor(x · 1e9) as BIGINT (float→double is exact; floor is
    engine-independent) — summed EXACTLY as integers, and divided
    back out once: identical doubles in Spark and DuckDB (the
    fixed-point twin of SURVEY §4's decimal-money discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * F.lit(float(CENTROID_Q)))
        .cast("long")
        .alias("q"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n_vectors"))
        .select(
            "label",
            "pos",
            (
                (F.col("sum_q").cast("double") / F.lit(float(CENTROID_Q)))
                / F.col("n_vectors").cast("double")
            ).alias("centroid"),
            "n_vectors",
        )
    )


def emb_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification + confusion matrix — the
    label-quality audit (how separable are the labels? which pairs
    confuse?) and the cheapest pseudo-labeling baseline. Builds the
    fixed-point-EXACT per-label centroids (same integer-sum math as
    emb_label_centroids), re-assembles them into ordered arrays
    entirely ON THE EXECUTORS (array_sort(collect_list(struct(pos,
    c)))) — no driver collect, unlike quantizer training — broadcasts
    the label-count-sized centroid table, and assigns every vector to
    its max-cosine centroid (ties break on the smaller label).

    Scale shape: centroid build is the centroids op (two map-side-
    combinable aggs to a label×dim table); assignment is a broadcast
    nested-loop over a partitioned scan — embarrassingly parallel,
    |labels| fold evaluations per vector; the confusion output is
    |labels|² rows. All dot products are strict left folds
    (functions/vector.py), so the whole pipeline replays in DuckDB."""
    emb = scatter(load_table(spark, sf_dir, "embeddings"),
                  min_input_bytes=2 << 20)
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * F.lit(float(CENTROID_Q)))
        .cast("long")
        .alias("q"),
    )
    cent_long = exploded.groupBy("label", "pos").agg(
        F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n")
    ).select(
        "label",
        "pos",
        (
            (F.col("sum_q").cast("double") / F.lit(float(CENTROID_Q)))
            / F.col("n").cast("double")
        ).alias("c"),
    )
    cent = cent_long.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    ).select(
        F.col("label").alias("c_label"),
        "cv",
        F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("c_nrm"),
    )
    v = emb.select(
        "vec_id", "label", as_double_vec(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "cosine",
        dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("c_nrm")),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("c_label")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .groupBy("label", F.col("c_label").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


RP_DIM = 16
RP_SCALE = 0.25              # 1 / sqrt(RP_DIM) — exact in binary


def _rp_matrix() -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003 sign
    construction, derandomized through md5 exactly like the LSH
    hyperplanes — distinct 'rp:' seed so the two matrices differ)."""
    return [
        [1 if hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0] >= "8"
         else -1 for i in range(EMB_DIM)]
        for j in range(RP_DIM)
    ]


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection: 64-dim float
    embeddings → RP_DIM doubles, scaled by 1/√RP_DIM = 0.25 (exact
    in binary, so no libm rounding is needed anywhere) — the standard
    dimensionality-reduction stage in front of ANN indexing, clustering
    and dedup at corpus scale (4× less vector IO downstream).

    Scale shape: a pure map — zero shuffle, RP_DIM strict-left-fold
    dots per row inside the JVM, embarrassingly parallel at 100 TB
    (for much larger matrices the Arrow/numpy twin pattern of
    ``lsh_signature`` applies; at 16×64 the definitional JVM
    expression is already cheap). The md5-derived matrix is shared
    verbatim with the DuckDB oracle, so the projection is
    bit-reproducible across engines and runs."""
    v = scatter(load_table(spark, sf_dir, "embeddings"),
                min_input_bytes=2 << 20).where(
        _valid_vec(F.col("embedding"))
    ).select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    )
    cols = []
    for j, row in enumerate(_rp_matrix()):
        plane = F.array(*[F.lit(float(x)) for x in row])
        cols.append((dot(F.col("v"), plane) * RP_SCALE).alias(f"rp{j}"))
    return v.select("vec_id", *cols)


def rp_project_expr(vec_col: F.Column) -> F.Column:
    """Definitional JVM-expression JL projection (16 strict left-fold
    dots over 64 dims). Interpreter-bound like lsh_signature_expr —
    Spark higher-order functions don't codegen, and 1024 multiplies
    per row at interpreter speed measured 6.5× slower than the IVF
    Arrow path in the r10 bench — so the ANN hot paths use the
    numpy twin ``rp_project_kernel``; a test pins the two
    bit-identical (test_similarity)."""
    return F.array(*[
        (dot(vec_col, F.array(*[F.lit(float(x)) for x in row]))
         * RP_SCALE)
        for row in _rp_matrix()
    ])


@pandas_udf(ArrayType(DoubleType()))
def rp_project_kernel(v: pd.Series) -> pd.Series:
    """Arrow/numpy twin of rp_project_expr: vectorized across rows,
    SEQUENTIAL over the dimension axis — acc starts at 0.0 and gains
    v[k]·P[j][k] one k at a time, the same IEEE operation order as
    F.aggregate and the oracle's list_reduce, then one exact ×0.25 —
    so the projected vectors are bit-identical (pytest-pinned, the
    lsh_signature/_centroid_scores argument) on the _valid_vec rows
    every pipeline pre-filters to; invalid rows project to NULL
    components as a never-ValueError backstop."""
    mat = np.array(_rp_matrix(), dtype=np.float64)      # (16, 64)
    out = [[None] * RP_DIM for _ in range(len(v))]
    idxs, vecs = _clean_rows(v, EMB_DIM)
    if len(vecs):
        acc = _fold_dots(vecs, mat) * RP_SCALE          # exact 2^-2
        for j, i in enumerate(idxs):
            out[i] = acc[j].tolist()
    return pd.Series(out, dtype=object)


RP_CAND = 5 * TOP_K          # projected-space candidates per query


def sim_knn_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RP-prefiltered ANN — the classic Johnson-Lindenstrauss recipe:
    score every pair in the 16-dim projected space (4× fewer bytes
    and flops per comparison than the 64-dim scan), keep the top
    RP_CAND per query by projected cosine, then exact-cosine re-rank
    only those candidates to TOP_K. Complements the LSH/IVF/PQ
    family: RP keeps the scan exhaustive (no bucketing recall cliff)
    while shrinking the per-vector work — the right trade when
    near-dup recall matters but vectors dominate IO. MEASURED (r10
    bench, Arrow-kernel projection, synth-sf1): ~0.55× of
    sim_knn_bruteforce end-to-end — the 4× applies to the pair-scan
    flops/bytes; the per-query rank windows and exact re-rank are
    shared with brute force and cap the total win. Still O(n·q)
    pairs by construction (labeled baseline; the bucketed scale
    composition is ``sim_knn_ivf_rp``). JL distortion is
    smallest for HIGH-cosine pairs, so planted near-dups (cos ≳ 0.9)
    survive the prefilter (recall ≥ 0.9 pytest-gated); on pure random
    noise the top-k is arbitrary and the prefilter agrees with the
    exact scan on only ~40% of it — retrieval quality claims for any
    ANN path only mean something on structured data.

    Determinism: the 0.25 scale is a power of two, so the projected
    dot/norm/cosine are EXACT scalings of their unscaled forms — no
    new rounding anywhere — and the md5-frozen matrix makes the whole
    pipeline replay bit-identically in DuckDB."""
    emb = scatter(load_table(spark, sf_dir, "embeddings"),
                  min_input_bytes=2 << 20).where(
        _valid_vec(F.col("embedding")))
    base = emb.select(
        "vec_id", as_double_vec(F.col("embedding")).alias("v")
    ).select(
        "vec_id", "v", rp_project_kernel(F.col("v")).alias("vp"),
    ).withColumn("nrm_p", F.sqrt(dot(F.col("vp"), F.col("vp"))))
    q = base.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("vp").alias("vp_q"),
        F.col("nrm_p").alias("np_q"),
    ).withColumn("n_q", F.sqrt(dot(F.col("v_q"), F.col("v_q"))))
    cos_p = dot(F.col("vp_q"), F.col("vp")) / (F.col("np_q") * F.col("nrm_p"))
    w_p = Window.partitionBy("query_id").orderBy(
        F.col("cos_p").desc(), F.col("vec_id")
    )
    cand = (
        F.broadcast(q)
        .join(base, F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_p", cos_p)
        .withColumn("rn", F.row_number().over(w_p))
        .where(F.col("rn") <= RP_CAND)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    # exact 64-dim norms only AFTER the RP_CAND cut (r10, VERDICT r9
    # note): the prefilter scan pays 16-dim work per pair; the ≤
    # RP_CAND×q re-rank rows pay the full-dim folds — at 100 TB the
    # corpus-side norm would be a precomputed column, and computing
    # it pre-cut here was the one full-dim op left in the scan
    return (
        cand.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .withColumn(
            "cosine",
            dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm")),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cosine", "rank")
    )


def _project(vec: list[float]) -> list[float]:
    """Strict left-fold JL projection of one driver-side vector —
    the same operation order as the JVM expression in
    ``emb_random_projection`` and the oracle's list_reduce (0.0-init
    left fold ≡ no-init fold in IEEE), so projecting the trained IVF
    centroids driver-side replays bit-identically in SQL."""
    out = []
    for row in _rp_matrix():
        s = 0.0
        for a, b in zip(vec, row):
            s = s + a * float(b)
        out.append(s * RP_SCALE)
    return out


def _cell_scores_p(cp: list[list[float]], col: str) -> F.Column:
    """(score, cell) structs of a projected vector column against the
    projected centroids — the 16-dim instantiation of the shared
    ``_centroid_scores`` Arrow kernel (the r10 bench measured the
    definitional JVM-fold version interpreter-bound, like
    lsh_signature_expr); same (score, cell) lexicographic tie-break
    as IVF."""
    return _centroid_scores(cp, col=col)


def sim_knn_ivf_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with RANDOM-PROJECTION cell probing — the r10 composition
    the r9 keys were building toward: the coarse quantizer trains
    exactly as ``sim_knn_ivf`` (full-dim, md5-sampled medoid Lloyd),
    but the trained centroids AND the corpus are JL-projected to
    RP_DIM=16 (±1 matrix, exact 1/√16 = 0.25 scaling — no new
    rounding anywhere), so cell ASSIGNMENT and query PROBING score
    16-dim dots instead of 64-dim: the encode pass and the per-query
    probe ranking read/compute 4× less. The exact full-dim cosine
    re-rank within the probed cells is unchanged, so result quality
    degrades only through cell-boundary disagreement (JL distortion
    is smallest for the high-cosine pairs that matter; recall ≥ 0.9
    pytest-gated on the planted corpus).

    This is the 100 TB shape ``sim_knn_rp`` (an exhaustive
    nested-loop prefilter, labeled baseline) is not: here the
    projection composes INTO the bucketed index, cutting quantizer
    flops/IO ÷4 while the scan stays ~nprobe/K of the corpus.

    Fully deterministic and oracle-replayed: the projection is a
    strict left fold of the SQL-derived centroids, and assignment /
    probe tie-breaks mirror the IVF oracle ((score, cell) DESC)."""
    v = _vectors(spark, sf_dir)
    centroids = _ivf_centroids(v)
    cp = [_project(c) for c in centroids]
    base = v.withColumn("vp", rp_project_kernel(F.col("v")))
    # §2.5: scatter under the projection+assignment kernels so encode
    # and the probe join parallelize off the compact scan
    corpus = scatter(v, min_input_bytes=2 << 20).withColumn(
        "vp", rp_project_kernel(F.col("v"))
    ).withColumn(
        "cell", F.array_max(_cell_scores_p(cp, "vp")).getField("cell")
    )
    q = base.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("v_q"),
        F.col("nrm").alias("n_q"),
        F.col("vp").alias("vp_q"),
    )
    probes = q.select(
        "query_id", "v_q", "n_q",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(_cell_scores_p(cp, "vp_q"))),
                1, IVF_NPROBE,
            ).getField("cell")
        ).alias("cell"),
    )
    cos = dot(F.col("v_q"), F.col("v")) / (F.col("n_q") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        F.broadcast(probes)
        .join(corpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                "cosine", "rank")
    )


QUERIES = {
    "emb_random_projection": emb_random_projection,
    "sim_knn_rp": sim_knn_rp,
    "sim_knn_ivf_rp": sim_knn_ivf_rp,
    "emb_label_centroids": emb_label_centroids,
    "emb_nearest_centroid": emb_nearest_centroid,
    "sim_knn_bruteforce": sim_knn_bruteforce,
    "sim_knn_lsh": sim_knn_lsh,
    "sim_knn_ivf": sim_knn_ivf,
    "sim_knn_pq": sim_knn_pq,
    "sim_knn_ivfpq": sim_knn_ivfpq,
}

_DOT_QV = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(q.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)
_SELF_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)

ORACLES = {
    "emb_label_centroids": f"""
        WITH e AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                              * {CENTROID_Q}.0) AS BIGINT) AS q
            FROM embeddings
        )
        SELECT label, CAST(pos AS INTEGER) AS pos,
               (CAST(SUM(q) AS DOUBLE) / {CENTROID_Q}.0)
                   / CAST(COUNT(*) AS DOUBLE) AS centroid,
               COUNT(*) AS n_vectors
        FROM e GROUP BY 1, 2
    """,
    "emb_nearest_centroid": f"""
        WITH e AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)
                              * {CENTROID_Q}.0) AS BIGINT) AS q
            FROM embeddings
        ),
        cl AS (
            SELECT label, pos,
                   (CAST(SUM(q) AS DOUBLE) / {CENTROID_Q}.0)
                       / CAST(COUNT(*) AS DOUBLE) AS c
            FROM e GROUP BY 1, 2
        ),
        cent AS (
            SELECT label AS c_label, array_agg(c ORDER BY pos) AS cv
            FROM cl GROUP BY 1
        ),
        cn AS (
            SELECT c_label, cv,
                   sqrt(list_reduce(list_transform(range(1, 65),
                        i -> cv[i] * cv[i]), (x, y) -> x + y)) AS c_nrm
            FROM cent
        ),
        v AS (
            SELECT vec_id, label, embedding, sqrt({_SELF_DOT}) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT v.vec_id, v.label, cn.c_label,
                   list_reduce(list_transform(range(1, 65),
                        i -> CAST(v.embedding[i] AS DOUBLE) * cn.cv[i]),
                        (x, y) -> x + y) / (v.nrm * cn.c_nrm) AS cosine
            FROM v CROSS JOIN cn
        ),
        a AS (
            SELECT vec_id, label, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, c_label) AS rk
            FROM scored
        )
        SELECT label, c_label AS assigned_label, COUNT(*) AS n_vectors
        FROM a WHERE rk = 1 GROUP BY 1, 2
    """,
    "sim_knn_bruteforce": f"""
        WITH vecs AS (
            SELECT vec_id, embedding, sqrt({_SELF_DOT}) AS nrm
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        scored AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   {_DOT_QV} / (q.nrm * v.nrm) AS cosine
            FROM vecs q JOIN vecs v ON v.vec_id <> q.vec_id
            WHERE q.vec_id % {QUERY_MOD} = 0
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
}


def _knn_lsh_oracle() -> str:
    """Replay of sim_knn_lsh: packed signature from the embedded plane
    literals, band melt via shift+mask, distinct candidate pairs from
    any-band matches against the query side, exact cosine re-rank with
    the same (cosine DESC, neighbor_id) tie-break."""
    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv,
                   sqrt({_SELF_DOT}) AS nrm
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        sig AS (SELECT vec_id, {lsh_band_sql_cols()} FROM v),
        melted AS (
            SELECT vec_id, j AS band, {BAND_SQL} AS bsig
            FROM sig, (SELECT unnest(range(0, {LSH_BANDS})) AS j)
        ),
        cand AS (
            SELECT DISTINCT qm.vec_id AS query_id, m.vec_id AS vec_id
            FROM melted m
            JOIN melted qm ON m.band = qm.band AND m.bsig = qm.bsig
            WHERE qm.vec_id % {QUERY_MOD} = 0 AND m.vec_id <> qm.vec_id
        ),
        scored AS (
            SELECT c.query_id, c.vec_id AS neighbor_id,
                   {_DOT_QV} / (q.nrm * v.nrm) AS cosine
            FROM cand c
            JOIN v q ON q.vec_id = c.query_id
            JOIN v v ON v.vec_id = c.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """


ORACLES["sim_knn_lsh"] = _knn_lsh_oracle()


def _sql_fold64(a: str, b: str) -> str:
    return (
        "list_reduce(list_transform(range(1, 65), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _sql_sq(l: str) -> str:
    return f"list_reduce(list_transform({l}, x -> x * x), (x, y) -> x + y)"


def _sql_unit(l: str) -> str:
    n = (f"(CASE WHEN sqrt({_sql_sq(l)}) = 0 THEN 1.0 "
         f"ELSE sqrt({_sql_sq(l)}) END)")
    return f"list_transform({l}, x -> x / {n})"


def _sql_train_ctes() -> str:
    """The CTEs every quantizer oracle starts from: ``v`` (valid
    vectors as doubles + norm) and ``tr``, the SQL twin of
    _training_set — the TRAIN_CAP rows of smallest md5(vec_id) with
    their md5 ``h`` and md5 rank ``rn``. Seeds are ``rn < K`` and the
    Lloyd sample is ``h < TRAIN_SAMPLE_HEX``."""
    vv = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    return f"""
        v AS (
            SELECT vec_id, {vv} AS vv, sqrt({_sql_sq(vv)}) AS nrm
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        tr AS (
            SELECT vec_id, vv, h, ROW_NUMBER() OVER (ORDER BY h) - 1 AS rn
            FROM (SELECT vec_id, vv, md5(CAST(vec_id AS VARCHAR)) AS h
                  FROM v ORDER BY h LIMIT {TRAIN_CAP})
        )"""


def _ivf_training_ctes(p: str = "") -> tuple[list[str], str]:
    """The shared SQL replay of _ivf_centroids (seed pick by md5
    order + IVF_ITERS unrolled assignment/medoid-update rounds over
    the capped md5 training sample), reading ``tr``: returns the CTE
    list (names prefixed with ``p``) and the name of the final
    centroid table. Used verbatim by the full-space IVF oracle, the
    RP-probed variant and IVF-PQ — the quantizer TRAINING is identical
    by construction."""
    fold, unit = _sql_fold64, _sql_unit
    ctes = [f"""
        {p}vt AS (
            SELECT vec_id, vv FROM tr WHERE h < '{TRAIN_SAMPLE_HEX}'
        ),
        {p}c0 AS (
            SELECT rn AS cell, {unit('vv')} AS c
            FROM tr WHERE rn < {IVF_CELLS}
        )"""]
    for r in range(1, IVF_ITERS + 1):
        prev = f"{p}c{r - 1}"
        ctes.append(f"""
        {p}a{r} AS (
            SELECT vec_id, vv, cell, score FROM (
                SELECT v.vec_id, v.vv, c.cell,
                       {fold('v.vv', 'c.c')} AS score,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {fold('v.vv', 'c.c')} DESC, c.cell DESC
                       ) AS rn
                FROM {p}vt v, {prev} c
            ) WHERE rn = 1
        ),
        {p}rep{r} AS (
            SELECT cell, vv FROM (
                SELECT cell, vv, ROW_NUMBER() OVER (PARTITION BY cell
                           ORDER BY score DESC, vec_id DESC) AS rn
                FROM {p}a{r}
            ) WHERE rn = 1
        ),
        {p}c{r} AS (
            SELECT p.cell, COALESCE({unit(f'{p}rep{r}.vv')}, p.c) AS c
            FROM {prev} p LEFT JOIN {p}rep{r} ON {p}rep{r}.cell = p.cell
        )""")
    return ctes, f"{p}c{IVF_ITERS}"


def _knn_ivf_oracle() -> str:
    """Replay of sim_knn_ivf: seed pick by md5 order, IVF_ITERS
    unrolled assignment/medoid-update rounds, final cell assignment,
    nprobe probes per query, exact cosine re-rank. Every float op is a
    left fold / IEEE div / sqrt — bit-identical to the Spark+Python
    pipeline (see _ivf_centroids)."""
    fold = _sql_fold64
    ctes, final = _ivf_training_ctes()
    tail = f"""
        corpus AS (
            SELECT vec_id, vv, nrm, cell FROM (
                SELECT v.vec_id, v.vv, v.nrm, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {fold('v.vv', 'c.c')} DESC, c.cell DESC
                       ) AS rn
                FROM v, {final} c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, cell FROM (
                SELECT v.vec_id AS query_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {fold('v.vv', 'c.c')} DESC, c.cell DESC
                       ) AS rn
                FROM v, {final} c
                WHERE v.vec_id % {QUERY_MOD} = 0
            ) WHERE rn <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, t.vec_id AS neighbor_id,
                   {fold('q.vv', 't.vv')} / (q.nrm * t.nrm) AS cosine
            FROM probes p
            JOIN corpus t ON t.cell = p.cell AND t.vec_id <> p.query_id
            JOIN v q ON q.vec_id = p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}"""
    return "WITH " + ",".join([_sql_train_ctes(), *ctes, tail])


ORACLES["sim_knn_ivf"] = _knn_ivf_oracle()


def _sql_rp_proj(vec: str) -> str:
    """16-element projected list of a 64-dim SQL list expression —
    the same fold order + exact 0.25 scale as _project / the Spark
    ``vp`` expression."""
    comps = []
    for row in _rp_matrix():
        lst = "[" + ", ".join(f"{x}.0" for x in row) + "]"
        comps.append(
            f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> {vec}[i] * ({lst})[i]), (x, y) -> x + y) * {RP_SCALE}"
        )
    return "[" + ",\n             ".join(comps) + "]"


def _sql_fold16(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {RP_DIM + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _knn_ivf_rp_oracle() -> str:
    """Replay of sim_knn_ivf_rp: identical quantizer training CTEs
    (shared with the IVF oracle by construction), then the trained
    centroids and every vector are JL-projected (same ±1 matrix
    literals as the emb_random_projection oracle), assignment and
    probing rank 16-dim folds with the IVF (score, cell)-DESC
    tie-break, and the re-rank is the unchanged exact full-dim
    cosine."""
    ctes, final = _ivf_training_ctes()
    fold, fold16 = _sql_fold64, _sql_fold16
    tail = f"""
        cp AS (
            SELECT cell, {_sql_rp_proj('c')} AS pc FROM {final}
        ),
        pv AS (
            SELECT vec_id, vv, nrm, {_sql_rp_proj('vv')} AS vp FROM v
        ),
        corpus AS (
            SELECT vec_id, vv, nrm, cell FROM (
                SELECT p.vec_id, p.vv, p.nrm, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY p.vec_id
                           ORDER BY {fold16('p.vp', 'c.pc')} DESC,
                                    c.cell DESC
                       ) AS rn
                FROM pv p, cp c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, cell FROM (
                SELECT p.vec_id AS query_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY p.vec_id
                           ORDER BY {fold16('p.vp', 'c.pc')} DESC,
                                    c.cell DESC
                       ) AS rn
                FROM pv p, cp c
                WHERE p.vec_id % {QUERY_MOD} = 0
            ) WHERE rn <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, t.vec_id AS neighbor_id,
                   {fold('q.vv', 't.vv')} / (q.nrm * t.nrm) AS cosine
            FROM probes p
            JOIN corpus t ON t.cell = p.cell AND t.vec_id <> p.query_id
            JOIN v q ON q.vec_id = p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}"""
    return "WITH " + ",".join([_sql_train_ctes(), *ctes, tail])


ORACLES["sim_knn_ivf_rp"] = _knn_ivf_rp_oracle()


def _sql_subvec(vv: str) -> str:
    """Subspace ``m``'s PQ_SUB-long slice of a 64-dim SQL list."""
    return (f"list_transform(range(1, {PQ_SUB + 1}), "
            f"i -> {vv}[m * {PQ_SUB} + i])")


def _sql_subdist(s: str, c: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> ({s}[i] - {c}[i]) * ({s}[i] - {c}[i])), (x, y) -> x + y)"
    )


def _sql_subdot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {PQ_SUB + 1}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


_SQL_M = f"(SELECT unnest(range(0, {PQ_M})) AS m)"


def _pq_training_ctes(p: str = "") -> tuple[list[str], str]:
    """The shared SQL replay of _pq_codebooks, reading ``tr``: seeds
    are the PQ_K smallest-md5 vectors sliced per subspace, then
    PQ_ITERS unrolled assign/medoid-update rounds over the capped md5
    training sample. Also defines ``sub`` (every valid vector's
    subvectors, for encoding). Returns the CTE list (training names
    prefixed with ``p``) and the name of the final codebook table."""
    dist = _sql_subdist
    ctes = [f"""
        sub AS (
            SELECT vec_id, m, {_sql_subvec('vv')} AS s FROM v, {_SQL_M}
        ),
        {p}subt AS (
            SELECT vec_id, m, {_sql_subvec('vv')} AS s
            FROM tr, {_SQL_M} WHERE h < '{TRAIN_SAMPLE_HEX}'
        ),
        {p}cb0 AS (
            SELECT m, rn AS k, {_sql_subvec('vv')} AS c
            FROM tr, {_SQL_M} WHERE rn < {PQ_K}
        )"""]
    for r in range(1, PQ_ITERS + 1):
        prev = f"{p}cb{r - 1}"
        ctes.append(f"""
        {p}a{r} AS (
            SELECT vec_id, m, s, k, d FROM (
                SELECT sub.vec_id, sub.m, sub.s, cb.k,
                       {dist('sub.s', 'cb.c')} AS d,
                       ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                           ORDER BY {dist('sub.s', 'cb.c')} ASC, cb.k ASC
                       ) AS rn
                FROM {p}subt sub JOIN {prev} cb ON cb.m = sub.m
            ) WHERE rn = 1
        ),
        {p}rep{r} AS (
            SELECT m, k, s FROM (
                SELECT m, k, s, ROW_NUMBER() OVER (PARTITION BY m, k
                    ORDER BY d ASC, vec_id ASC) AS rn
                FROM {p}a{r}
            ) WHERE rn = 1
        ),
        {p}cb{r} AS (
            SELECT p.m, p.k, COALESCE({p}rep{r}.s, p.c) AS c
            FROM {prev} p
            LEFT JOIN {p}rep{r} ON {p}rep{r}.m = p.m AND {p}rep{r}.k = p.k
        )""")
    return ctes, f"{p}cb{PQ_ITERS}"


def _sql_pq_codes(cb: str) -> str:
    """``codes``: every vector's nearest entry of codebook table
    ``cb`` per subspace (first-min tie-break, as np.argmin)."""
    return f"""
        codes AS (
            SELECT vec_id, m, k FROM (
                SELECT sub.vec_id, sub.m, cb.k,
                       ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                           ORDER BY {_sql_subdist('sub.s', 'cb.c')} ASC,
                                    cb.k ASC
                       ) AS rn
                FROM sub JOIN {cb} cb ON cb.m = sub.m
            ) WHERE rn = 1
        )"""


# fixed-order ADC over ``parts``, top-PQ_RERANK candidates, exact
# cosine re-rank: the shared tail of the PQ and IVF-PQ oracles
_SQL_ADC_TAIL = f"""
        adc AS (
            SELECT query_id, vec_id,
                   ((MAX(CASE WHEN m = 0 THEN part END)
                     + MAX(CASE WHEN m = 1 THEN part END))
                    + MAX(CASE WHEN m = 2 THEN part END))
                   + MAX(CASE WHEN m = 3 THEN part END) AS score
            FROM parts GROUP BY 1, 2
        ),
        cand AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY score DESC, vec_id) AS rn
                FROM adc
            ) WHERE rn <= {PQ_RERANK}
        ),
        scored AS (
            SELECT c.query_id, c.vec_id AS neighbor_id,
                   {_sql_fold64('q.vv', 't.vv')} / (q.nrm * t.nrm) AS cosine
            FROM cand c
            JOIN v q ON q.vec_id = c.query_id
            JOIN v t ON t.vec_id = c.vec_id
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}"""


def _knn_pq_oracle() -> str:
    """Replay of sim_knn_pq: the PQ training CTEs, corpus encoding,
    fixed-order ADC over the codes, top-PQ_RERANK candidates, exact
    cosine re-rank. Same fold/tie-break discipline as the IVF oracle."""
    ctes, final = _pq_training_ctes()
    parts = f"""
        parts AS (
            SELECT qs.vec_id AS query_id, cd.vec_id AS vec_id, qs.m,
                   {_sql_subdot('qs.s', 'cb.c')} AS part
            FROM sub qs
            JOIN codes cd ON cd.m = qs.m AND cd.vec_id <> qs.vec_id
            JOIN {final} cb ON cb.m = cd.m AND cb.k = cd.k
            WHERE qs.vec_id % {QUERY_MOD} = 0
        )"""
    return "WITH " + ",".join([_sql_train_ctes(), *ctes,
                               _sql_pq_codes(final), parts, _SQL_ADC_TAIL])


ORACLES["sim_knn_pq"] = _knn_pq_oracle()


def _knn_ivfpq_oracle() -> str:
    """Replay of the COMPOSED IVF-PQ pipeline: the IVF training CTEs
    (prefixed i) and the PQ training CTEs (prefixed p) over the one
    shared capped sample, cell assignment and probes, probes × in-cell
    codes as the candidate set, fixed-order ADC, exact cosine
    re-rank."""
    fold = _sql_fold64
    ictes, ifinal = _ivf_training_ctes("i")
    pctes, pfinal = _pq_training_ctes("p")
    cells = f"""
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT v.vec_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {fold('v.vv', 'c.c')} DESC, c.cell DESC
                       ) AS rn
                FROM v, {ifinal} c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, cell FROM (
                SELECT v.vec_id AS query_id, c.cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                           ORDER BY {fold('v.vv', 'c.c')} DESC, c.cell DESC
                       ) AS rn
                FROM v, {ifinal} c
                WHERE v.vec_id % {QUERY_MOD} = 0
            ) WHERE rn <= {IVF_NPROBE}
        )"""
    parts = f"""
        cand0 AS (
            SELECT p.query_id, cc.vec_id
            FROM probes p
            JOIN cells cc ON cc.cell = p.cell AND cc.vec_id <> p.query_id
        ),
        parts AS (
            SELECT c.query_id, c.vec_id, qs.m,
                   {_sql_subdot('qs.s', 'cb.c')} AS part
            FROM cand0 c
            JOIN sub qs ON qs.vec_id = c.query_id
            JOIN codes cd ON cd.vec_id = c.vec_id AND cd.m = qs.m
            JOIN {pfinal} cb ON cb.m = cd.m AND cb.k = cd.k
        )"""
    return "WITH " + ",".join([_sql_train_ctes(), *ictes, cells, *pctes,
                               _sql_pq_codes(pfinal), parts, _SQL_ADC_TAIL])


ORACLES["sim_knn_ivfpq"] = _knn_ivfpq_oracle()


def _rp_oracle() -> str:
    """DuckDB replay of the JL projection: the SAME md5-derived ±1
    matrix is interpolated as list literals, the dot is the standard
    left fold over range(1, 65), and the 0.25 rescale is exact."""
    terms = []
    for j, row in enumerate(_rp_matrix()):
        lst = "[" + ", ".join(f"{x}.0" for x in row) + "]"
        terms.append(
            f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lst})[i]), "
            f"(x, y) -> x + y) * {RP_SCALE} AS rp{j}"
        )
    return ("SELECT vec_id,\n       "
            + ",\n       ".join(terms)
            + "\nFROM embeddings WHERE " + _SQL_VALID_VEC)


ORACLES["emb_random_projection"] = _rp_oracle()


def _knn_rp_oracle() -> str:
    """DuckDB replay of the RP-prefilter pipeline: the same projected
    vectors (list literal of the 16 fold expressions), projected-
    cosine ROW_NUMBER ≤ RP_CAND, exact-cosine re-rank ≤ TOP_K —
    identical tie-breaks (cosine DESC, neighbor_id)."""
    comps = []
    for row in _rp_matrix():
        lst = "[" + ", ".join(f"{x}.0" for x in row) + "]"
        comps.append(
            f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lst})[i]), "
            f"(x, y) -> x + y) * {RP_SCALE}"
        )
    vp = "[" + ",\n             ".join(comps) + "]"
    return f"""
        WITH pv AS (
            SELECT vec_id, embedding,
                   {vp} AS vp
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        n AS (
            SELECT vec_id, embedding, vp,
                   sqrt({_SELF_DOT}) AS nrm,
                   sqrt(list_reduce(list_transform(range(1, {RP_DIM + 1}),
                        i -> vp[i] * vp[i]), (x, y) -> x + y)) AS nrm_p
            FROM pv
        ),
        cand AS (
            SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, {RP_DIM + 1}),
                        i -> q.vp[i] * v.vp[i]), (x, y) -> x + y)
                       / (q.nrm_p * v.nrm_p) AS cos_p,
                   list_reduce(list_transform(range(1, {EMB_DIM + 1}),
                        i -> CAST(q.embedding[i] AS DOUBLE)
                             * CAST(v.embedding[i] AS DOUBLE)),
                        (x, y) -> x + y) / (q.nrm * v.nrm) AS cosine
            FROM n q JOIN n v
              ON q.vec_id % {QUERY_MOD} = 0 AND v.vec_id <> q.vec_id
        ),
        rc AS (
            SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cos_p DESC, neighbor_id)
                      AS INTEGER) AS rn
            FROM cand
        )
        SELECT query_id, neighbor_id, cosine, rank FROM (
            SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id)
                   AS INTEGER) AS rank
            FROM rc WHERE rn <= {RP_CAND}
        ) WHERE rank <= {TOP_K}
    """


ORACLES["sim_knn_rp"] = _knn_rp_oracle()
