"""Property-style tests for dedup/similarity (SURVEY §5.5):
self-similarity, symmetry-by-construction, LSH recall against the
exact baseline, planted near-duplicates recovered."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from university_data_lakehouse_spark.operators.dedup import (
    NGRAM_TAU,
    dedup_cluster_canonical,
    dedup_embedding_cosine,
    dedup_embedding_lsh,
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from university_data_lakehouse_spark.operators.similarity import (
    TOP_K,
    sim_knn_bruteforce,
    sim_knn_lsh,
)


@pytest.fixture(scope="module")
def jaccard_pairs(spark, sf_dir):
    return {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }


def test_exact_dedup_doc_equals_itself(spark, sf_dir):
    out = dedup_exact(spark, sf_dir)
    # canonical_id ≤ doc_id always; non-dup docs are their own canonical
    bad = out.where(F.col("canonical_id") > F.col("doc_id")).count()
    assert bad == 0
    singles = out.where(~F.col("is_dup"))
    assert singles.where(F.col("canonical_id") != F.col("doc_id")).count() == 0


def test_jaccard_pairs_ordered_and_bounded(jaccard_pairs):
    assert len(jaccard_pairs) > 0, "expected planted near-dups in testdata"
    for (a, b), j in jaccard_pairs.items():
        assert a < b
        assert NGRAM_TAU <= j <= 1.0


def test_minhash_lsh_recall_on_high_jaccard(spark, sf_dir, jaccard_pairs):
    """LSH with b=3,r=3 must recover essentially all pairs with
    jaccard ≥ 0.9 (P[miss] = (1-j^3)^3 < 0.03 at j=0.9)."""
    lsh = {
        (r.id_a, r.id_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    strong = {p for p, j in jaccard_pairs.items() if j >= 0.9}
    assert strong, "expected some very-near duplicates"
    recall = len(strong & lsh) / len(strong)
    assert recall >= 0.9, (recall, strong - lsh)
    # and LSH never invents pairs below the verify threshold
    assert lsh <= set(jaccard_pairs)


def test_simhash_finds_near_duplicates(spark, sf_dir, jaccard_pairs):
    sim = {(r.id_a, r.id_b) for r in dedup_simhash(spark, sf_dir).collect()}
    strong = {p for p, j in jaccard_pairs.items() if j >= 0.95}
    if strong:  # simhash is coarser; require non-trivial overlap
        assert len(strong & sim) / len(strong) >= 0.5


def test_cluster_canonical_is_component_min(spark, sf_dir):
    """Connected-component invariants: both endpoints of every
    near-dup pair share a canonical id; the canonical id is the
    component's minimum member; exactly one member per component is
    flagged canonical."""
    pairs = [(r.id_a, r.id_b)
             for r in dedup_minhash_lsh(spark, sf_dir).collect()]
    labels = {r.doc_id: (r.canonical_id, r.is_canonical)
              for r in dedup_cluster_canonical(spark, sf_dir).collect()}
    # every doc in a pair got a label, endpoints agree
    for a, b in pairs:
        assert labels[a][0] == labels[b][0], (a, b)
    # canonical = min of its member set; one canonical per component
    members: dict[int, set[int]] = {}
    for doc, (canon, _) in labels.items():
        members.setdefault(canon, set()).add(doc)
    for canon, docs in members.items():
        assert canon == min(docs)
        assert sum(1 for d in docs if labels[d][1]) == 1


def test_embedding_lsh_recall_on_strong_pairs(spark, sf_dir):
    """The bucketed embedding dedup must (a) be a subset of the exact
    all-pairs result with identical cosines, and (b) recover nearly
    all STRONG pairs (cos >= 0.8: collision prob ~1-(1-p^4)^6 ~ 0.95
    with p = 1 - theta/pi ~ 0.8)."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup_embedding_lsh(spark, sf_dir).collect()
    }
    assert set(lsh) <= set(exact)
    for p, c in lsh.items():
        assert exact[p] == c
    strong = {p for p, c in exact.items() if c >= 0.8}
    if strong:
        recall = len(strong & set(lsh)) / len(strong)
        assert recall >= 0.9, (recall, strong - set(lsh))


def test_knn_lsh_subset_of_bruteforce_scores(spark, sf_dir):
    """LSH top-k per query ⊆ same-bucket candidates, and its cosines
    match brute force exactly for shared (query, neighbor) pairs."""
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim_knn_bruteforce(spark, sf_dir).collect()
    }
    lsh_rows = sim_knn_lsh(spark, sf_dir).collect()
    assert bf
    for r in lsh_rows:
        assert r.rank <= TOP_K
        if (r.query_id, r.neighbor_id) in bf:
            assert bf[(r.query_id, r.neighbor_id)] == r.cosine


def test_cluster_pairs_raises_on_non_convergence(spark):
    """ADVICE r3: a component whose diameter exceeds max_iters must
    raise instead of returning partial (wrong) canonical labels."""
    from university_data_lakehouse_spark.operators.dedup import cluster_pairs

    # a 6-node chain needs ~5 propagation rounds; cap at 1
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster_pairs(chain, max_iters=1)
    # with enough rounds the same chain converges to min-label 0
    labels = cluster_pairs(chain, max_iters=20)
    assert {r.canonical_id for r in labels.collect()} == {0}


def test_shortcut_cc_logarithmic_on_long_chain(spark):
    """The shortcutting solver's reason to exist: a 64-link chain has
    diameter 63, so plain label propagation cannot converge in 16
    rounds — pointer shortcutting must (O(log diameter)) and must
    produce the exact component labeling."""
    from university_data_lakehouse_spark.operators.dedup import (
        cluster_pairs,
        cluster_pairs_shortcut,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster_pairs(chain, max_iters=16)
    labels = cluster_pairs_shortcut(chain, max_iters=16)
    got = {(r.doc_id, r.canonical_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(64)}


def test_shortcut_cc_matches_plain_on_real_pairs(spark, sf_dir):
    """Identical labeling on the real near-dup graph (many small
    components): both solvers are the same mathematical function."""
    from university_data_lakehouse_spark.operators.dedup import (
        cluster_pairs,
        cluster_pairs_shortcut,
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).cache()
    a = {(r.doc_id, r.canonical_id)
         for r in cluster_pairs(pairs).collect()}
    b = {(r.doc_id, r.canonical_id)
         for r in cluster_pairs_shortcut(pairs).collect()}
    assert a == b and len(a) > 0


def test_ngram_df_cap_prunes_boilerplate_candidates(spark, tmp_path):
    """The df-cap guard (VERDICT r5 #5): a shingle shared by most of
    the corpus must NOT generate candidate pairs (its fan-out is k²),
    while pairs sharing RARE shingles are still found with their
    EXACT full-set Jaccard.

    Corpus: 60 docs that are one long shared boilerplate block plus a
    per-doc unique tail (pairwise full-set Jaccard ~0.8 — an uncapped
    join would emit all 1770 pairs), plus one planted pair sharing
    only rare shingles. Only the planted pair may come back."""
    import pandas as pd

    boiler = " ".join(f"common{i}" for i in range(30))
    rare = " ".join(f"rare{i}" for i in range(30))
    rows = [(d, f"{boiler} unique{d}") for d in range(60)]
    rows += [(100, rare), (101, rare + " tail")]
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "synthetic",
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    out = dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert (100, 101) in pairs, "rare-shingle near-dup pair lost"
    assert pairs[100, 101] >= 0.9  # exact FULL-set jaccard, uncapped
    boiler_pairs = [p for p in pairs if p[0] < 100]
    assert boiler_pairs == [], (
        f"boilerplate-only pairs must be pruned, got {boiler_pairs[:5]}"
    )
    # the oracle applies the identical cap — parity on this corpus too
    from oracle_utils import compare
    from university_data_lakehouse_spark.operators.dedup import ORACLES

    compare(
        dedup_ngram_jaccard(spark, str(tmp_path)),
        ORACLES["dedup_ngram_jaccard"],
        str(tmp_path),
        "dedup_ngram_jaccard[df-cap corpus]",
    )


def test_embedding_lsh_wide_duplicate_recall_and_pruning(spark, tmp_path):
    """r6 wide banding (8 bands x 16 bits): (a) output is a subset of
    the exact all-pairs result with identical cosines; (b) planted
    duplicate-grade pairs (cos >= 0.98) are recovered with recall
    >= 0.9 — the dedup contract the wide geometry keeps; (c) on a
    DENSE corpus (one tight cluster, where every 8-bit bucket is
    crowded) wide banding generates strictly fewer verified+candidate
    pairs than the narrow geometry — occupancy control is the point."""
    import numpy as np

    from university_data_lakehouse_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_lsh,
        dedup_embedding_lsh_wide,
    )

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    # 30 well-separated base vectors, each with one near-identical
    # duplicate (tiny noise: cos > 0.999)
    for _ in range(30):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for noise in (0.0, 1e-3):
            vec = base + rng.normal(scale=noise, size=64)
            rows.append((vid, [float(x) for x in vec], 0))
            vid += 1
    # one dense cluster of 60 moderately similar vectors (crowds the
    # 8-bit buckets)
    center = rng.normal(size=64)
    center /= np.linalg.norm(center)
    for _ in range(60):
        vec = center + rng.normal(scale=0.25, size=64)
        rows.append((vid, [float(x) for x in vec], 1))
        vid += 1
    d = str(tmp_path / "emb")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))

    exact = {(r.id_a, r.id_b): r.cosine
             for r in dedup_embedding_cosine(spark, d).collect()}
    wide = {(r.id_a, r.id_b): r.cosine
            for r in dedup_embedding_lsh_wide(spark, d).collect()}
    narrow = {(r.id_a, r.id_b): r.cosine
              for r in dedup_embedding_lsh(spark, d).collect()}
    assert set(wide) <= set(exact)
    for p, c in wide.items():
        assert exact[p] == c
    dup_grade = {p for p, c in exact.items() if c >= 0.98}
    assert len(dup_grade) >= 30
    recall = len(dup_grade & set(wide)) / len(dup_grade)
    assert recall >= 0.9, recall
    # occupancy control: the dense cluster floods the 8-bit buckets
    # but spreads across the 16-bit ones
    assert len(wide) < len(narrow), (len(wide), len(narrow))


def test_embedding_lsh_auto_branches_on_corpus_size(spark, sf_dir, tmp_path):
    """Below WIDE_MIN_VECTORS the adaptive key equals the narrow
    geometry exactly; above it, the wide one. (The threshold branch
    is the operator's whole contract — both sides are covered by
    their own tests.)"""
    from university_data_lakehouse_spark.operators.dedup import (
        WIDE_MIN_VECTORS,
        dedup_embedding_lsh,
        dedup_embedding_lsh_auto,
    )

    small = {(r.id_a, r.id_b): r.cosine
             for r in dedup_embedding_lsh_auto(spark, sf_dir).collect()}
    narrow = {(r.id_a, r.id_b): r.cosine
              for r in dedup_embedding_lsh(spark, sf_dir).collect()}
    assert small == narrow
    assert WIDE_MIN_VECTORS == 10_000


def test_simhash_int_hamming_equals_character_definition(spark):
    """r12 rewrite invariant: Hamming via conv(sig, 2, 10) + xor +
    bit_count must equal the definitional per-character mismatch
    count for ALL 0/1 signature strings — hypothesis drives random
    32-bit signature pairs through BOTH expressions in one Spark
    projection and cross-checks Python's own popcount."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    sigs = st.integers(min_value=0, max_value=2**32 - 1)

    @settings(max_examples=30, deadline=None)
    @given(sigs, sigs)
    def check(x, y):
        assert bin(x ^ y).count("1") == sum(
            a != b for a, b in zip(f"{x:032b}", f"{y:032b}"))

    check()

    # and the Spark expressions agree with each other on a batch
    import random

    rnd = random.Random(12)
    rows = [(f"{rnd.getrandbits(32):032b}", f"{rnd.getrandbits(32):032b}")
            for _ in range(64)]
    df = spark.createDataFrame(rows, "sig_a string, sig_b string")
    ia = F.conv("sig_a", 2, 10).cast("long")
    ib = F.conv("sig_b", 2, 10).cast("long")
    fast = F.bit_count(ia.bitwiseXOR(ib)).cast("int")
    slow = F.aggregate(
        F.zip_with(
            F.split("sig_a", ""),
            F.split("sig_b", ""),
            lambda a, b: F.when(a == b, 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")
    out = df.select(fast.alias("fast"), slow.alias("slow")).collect()
    assert all(r["fast"] == r["slow"] for r in out)


# ---- 64-bit wide simhash sibling (r13) -----------------------------------


def test_simhash_wide_two_half_hamming_equals_character_definition(spark):
    """The wide verification splits the 64-bit signature into two
    32-bit halves (conv of the full string can overflow signed
    BIGINT): xor+bit_count per half, summed, must equal the
    definitional per-character mismatch count over all 64 positions."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    sigs = st.integers(min_value=0, max_value=2**64 - 1)

    @settings(max_examples=30, deadline=None)
    @given(sigs, sigs)
    def check(x, y):
        per_char = sum(a != b for a, b in zip(f"{x:064b}", f"{y:064b}"))
        halves = (bin((x >> 32) ^ (y >> 32)).count("1")
                  + bin((x & 0xFFFFFFFF) ^ (y & 0xFFFFFFFF)).count("1"))
        assert per_char == halves

    check()

    # and the Spark two-half expression agrees with the per-char fold
    import random

    rnd = random.Random(13)
    rows = [(f"{rnd.getrandbits(64):064b}", f"{rnd.getrandbits(64):064b}")
            for _ in range(64)]
    df = spark.createDataFrame(rows, "sig_a string, sig_b string")

    def halves(col):
        return (F.conv(F.substring(col, 1, 32), 2, 10).cast("long"),
                F.conv(F.substring(col, 33, 32), 2, 10).cast("long"))

    hi_a, lo_a = halves("sig_a")
    hi_b, lo_b = halves("sig_b")
    fast = (F.bit_count(hi_a.bitwiseXOR(hi_b))
            + F.bit_count(lo_a.bitwiseXOR(lo_b))).cast("int")
    slow = F.aggregate(
        F.zip_with(
            F.split("sig_a", ""),
            F.split("sig_b", ""),
            lambda a, b: F.when(a == b, 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("int")
    out = df.select(fast.alias("fast"), slow.alias("slow")).collect()
    assert all(r["fast"] == r["slow"] for r in out)


def test_simhash_wide_recall_and_candidate_pruning(spark, sf_dir,
                                                   jaccard_pairs):
    """The point of the 64/4x16 geometry: same near-dup recall
    standard as the 32-bit baseline, with a STRICTLY smaller band
    candidate set on the homogeneous synthetic corpus (the r12
    pathology: 8-bit bands let ~n²/16 candidates through)."""
    from university_data_lakehouse_spark.operators.dedup import (
        SIMHASH_BITS,
        SIMHASH_WIDE_BANDS,
        SIMHASH_WIDE_BITS,
        _simhash_signatures,
        _simhash_signatures_wide,
        dedup_simhash_wide,
    )

    wide = {(r.id_a, r.id_b)
            for r in dedup_simhash_wide(spark, sf_dir).collect()}
    strong = {p for p, j in jaccard_pairs.items() if j >= 0.95}
    if strong:  # same coarseness standard as the 32-bit test
        assert len(strong & wide) / len(strong) >= 0.5

    def n_candidates(sig_df, n_bands, bits):
        width = bits // n_bands
        melted = sig_df.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.substring("simhash", j * width + 1, width)
                    .alias("band"),
                )
                for j in range(n_bands)
            ])).alias("bd"),
        ).select("doc_id", "bd.band_idx", "bd.band")
        a = melted.select(F.col("doc_id").alias("id_a"),
                          "band_idx", F.col("band").alias("band_a"))
        b = melted.select(F.col("doc_id").alias("id_b"),
                          F.col("band_idx").alias("band_idx_b"),
                          F.col("band").alias("band_b"))
        return (a.join(b, (F.col("band_idx") == F.col("band_idx_b"))
                       & (F.col("band_a") == F.col("band_b"))
                       & (F.col("id_a") < F.col("id_b")))
                .select("id_a", "id_b").distinct().count())

    narrow_cand = n_candidates(
        _simhash_signatures(spark, sf_dir), 4, SIMHASH_BITS)
    wide_cand = n_candidates(
        _simhash_signatures_wide(spark, sf_dir),
        SIMHASH_WIDE_BANDS, SIMHASH_WIDE_BITS)
    # 16-bit bands must discriminate materially better than 8-bit
    # ones on the same corpus — at least halving the candidate set
    assert wide_cand * 2 <= narrow_cand, (wide_cand, narrow_cand)


def test_incremental_flags_are_exactly_the_split_wide_pairs(spark, sf_dir):
    """Cross-operator consistency (r14): dedup_simhash_incremental's
    directional flags must be EXACTLY the dedup_simhash_wide pairs
    with one incoming and one corpus member, oriented incoming ->
    corpus — the incremental operator is a restriction of the
    symmetric one, not a reimplementation that could drift."""
    import hashlib

    from university_data_lakehouse_spark.operators.dedup import (
        dedup_simhash_incremental,
        dedup_simhash_wide,
    )

    def incoming(doc_id) -> bool:
        return hashlib.md5(f"ingest:{doc_id}".encode()).hexdigest()[0] == "0"

    wide = {(r.id_a, r.id_b, r.hamming)
            for r in dedup_simhash_wide(spark, sf_dir).collect()}
    expected = set()
    for a, b, h in wide:
        ia, ib = incoming(a), incoming(b)
        if ia and not ib:
            expected.add((a, b, h))
        elif ib and not ia:
            expected.add((b, a, h))
    got = {(r.doc_id, r.dup_of, r.hamming)
           for r in dedup_simhash_incremental(spark, sf_dir).collect()}
    assert got == expected and len(got) > 0


def test_flagger_on_empty_corpus_bootstrap(spark, tmp_path):
    """First-ever ingest, before any corpus exists: materializing an
    EMPTY corpus yields a valid 0-row band table, the flagger emits
    no flags, and docs with no tokens are silently unflagged (the
    tagger's size(td) > 0 gate) — the bootstrap path needs no special
    casing."""
    from university_data_lakehouse_spark.streaming.dedupe import (
        flag_near_dups,
        materialize_corpus_bands,
        read_corpus_bands,
    )

    path = str(tmp_path / "bands")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert materialize_corpus_bands(empty, path) == 1
    bands = read_corpus_bands(spark, path)
    assert bands.count() == 0
    inc = spark.createDataFrame(
        [(1, "alpha bravo charlie"), (2, "...!!!")],  # doc 2: no tokens
        "doc_id long, text string")
    assert flag_near_dups(inc, bands).count() == 0


def test_cluster_canonical_warm_job_budget(spark, sf_dir, jobs_in_group):
    """The edge table is built once, in one pass over the pairs, before
    round 1: a warm dedup_cluster_canonical runs at most 26 Spark jobs
    at the test scale (35 when the edges were a union that ran the
    pair pipeline twice, materialized lazily inside round 1)."""
    from university_data_lakehouse_spark.operators.dedup import (
        dedup_cluster_canonical,
    )

    dedup_cluster_canonical(spark, sf_dir).count()
    spark.catalog.clearCache()
    jobs = jobs_in_group(
        "job-budget-dedup_cluster_canonical",
        lambda: dedup_cluster_canonical(spark, sf_dir).count())
    spark.catalog.clearCache()
    assert jobs <= 26, jobs
