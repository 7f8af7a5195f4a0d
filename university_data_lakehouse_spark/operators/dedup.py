"""Deduplication operators for training-data pipelines (SURVEY §2.5).

Five strategies over the ``documents`` / ``embeddings`` tables:
exact hash, n-gram Jaccard, MinHash+LSH, SimHash, embedding cosine.

Scale design (SURVEY §6):
- the shingle explode is the widest stage — it carries only
  (doc_id, shingle) so the shuffle payload is minimal;
- MinHash/LSH turns the O(n²) pair space into per-(band, bucket)
  joins; exact Jaccard verification runs only on LSH candidates;
- skewed buckets (boilerplate shingles) are handled by AQE skew-join;
- hashes are md5-based (JVM codegen, identical in DuckDB) — the
  lexicographic MIN of seeded md5s is a valid MinHash family and,
  unlike Spark's MinHashLSH, is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import TOKEN_RE, shingles, tokens
from ..functions.vector import as_double_vec, dot
from ..sources.loader import DOC_SCATTER_BPT, load_table, scatter

NGRAM_TAU = 0.5          # jaccard threshold for near-dup pairs
NGRAM_DF_CAP_FRAC = 1    # % of corpus: shingles above this df are
NGRAM_DF_CAP_MIN = 8     # boilerplate, excluded from candidate gen
#                          (floor so tiny corpora keep candidates)
MINHASH_K = 9            # minhash signature length
LSH_BANDS = 3            # bands of MINHASH_K / LSH_BANDS rows
SIMHASH_BITS = 32        # one bit per md5 hex nibble's high bit
SIMHASH_MAX_HAMMING = 6
SIMHASH_WIDE_BITS = 64   # r13 scale sibling: 2 md5s per token
SIMHASH_WIDE_BANDS = 4   # 4 x 16-bit bands (65536 buckets/band)
SIMHASH_WIDE_SALT = "#w"  # second-hash-family suffix for bits 33-64
SIMHASH_WIDE_MAX_HAMMING = 3  # Manku/Jain/Sarma WWW'07: k=3 on 64-bit
COSINE_TAU = 0.4


def _doc_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ss: distinct-shingle array, n: set size) — the shared
    first stage, computed in ONE narrow map stage per doc.

    Array-native on purpose: the exploded formulation needs a
    distinct shuffle + a groupBy shuffle just to rebuild per-doc
    state, while a doc's shingle set is bounded by the doc's own
    length, so it fits in a row. At 100 TB this stage is
    embarrassingly parallel and shuffle-free.

    cache() interposes an InMemoryRelation so Catalyst cannot
    collapse the tokenize+shingle expression into every downstream
    reference (signature exprs would otherwise re-run the regexp per
    minhash seed; measured 10× slowdown). Unlike localCheckpoint it
    has no accumulator lifecycle (the checkpoint variant spammed
    benign-but-noisy DAGScheduler accumulator errors), and the
    CacheManager keys on the canonicalized plan, so every dedup/text
    operator in a session shares ONE materialization of this stage.
    The cached rows are one array per doc; at 100 TB you would write
    this stage to a table instead.
    """
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    # Materialize the token array BEFORE shingling: shingles()
    # references the token array ~3× per element, and inlining the
    # regexp into each reference re-runs it per element (measured
    # 10× slowdown). The cache barrier stops Catalyst collapsing the
    # projection back into the consumer.
    toks = doc.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).cache()
    sets = toks.select(
        "doc_id",
        F.array_distinct(shingles(F.col("toks"), 3)).alias("ss"),
    ).withColumn("n", F.size("ss"))
    return sets.cache()


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded distinct (doc_id, shingle) pairs, for operators that
    genuinely need shingle-keyed joins (n-gram candidate generation)."""
    return (
        _doc_shingle_sets(spark, sf_dir)
        .select("doc_id", F.explode("ss").alias("s"))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash, min-doc_id winner per group."""
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    from pyspark.sql import Window  # noqa: PLC0415

    h = F.md5("text")
    w = Window.partitionBy(h)
    return doc.select(
        "doc_id",
        h.alias("content_hash"),
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


def _jaccard_on_pairs(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs.

    Joins the candidate pairs against the per-doc shingle-set table
    and computes |A∩B| with array_intersect — two hash joins and a
    projection, versus the exploded-shingle formulation's join +
    groupBy + two more joins. Candidates after LSH are sparse, so
    AQE broadcasts the pair side at runtime."""
    a = sets.select(
        F.col("doc_id").alias("id_a"), F.col("ss").alias("ss_a"), F.col("n").alias("n_a")
    )
    b = sets.select(
        F.col("doc_id").alias("id_b"), F.col("ss").alias("ss_b"), F.col("n").alias("n_b")
    )
    n_common = F.size(F.array_intersect("ss_a", "ss_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", n_common)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def _ngram_df_cap(n_docs: int) -> int:
    """Document-frequency cap for shingles entering the candidate
    self-join: max(NGRAM_DF_CAP_FRAC x corpus, NGRAM_DF_CAP_MIN).
    Integer ceil, so both engines compute the identical literal."""
    return max(-(-n_docs * NGRAM_DF_CAP_FRAC // 100), NGRAM_DF_CAP_MIN)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle explode → RARE-shingle-bucket self-join → exact
    Jaccard ≥ τ verification of the candidate pairs.

    The standard df-cap guard: a shingle present in k docs generates
    k² candidate rows, so a boilerplate 3-gram in 10⁶ docs is 10¹²
    pairs — AQE skew-join only splits that work, it doesn't shrink
    it. Candidates therefore come ONLY from shingles with document
    frequency ≤ cap (~1% of the corpus, floor NGRAM_DF_CAP_MIN):
    per-shingle fan-out is ≤ cap², and near-dups share *rare*
    shingles too, so recall is intact (property-tested in
    tests/test_dedup_properties.py). Verification then computes
    EXACT Jaccard over the FULL shingle sets (array_intersect on the
    candidate pairs only), so reported similarity is uncapped."""
    sets = _doc_shingle_sets(spark, sf_dir)
    cap = _ngram_df_cap(sets.count())
    sh = sets.select("doc_id", F.explode("ss").alias("s"))
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= cap)
        .select("s")
    )
    sh_rare = sh.join(rare, "s")
    a = sh_rare.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    b = sh_rare.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    cand = (
        a.join(b, (F.col("s_a") == F.col("s_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_pairs(cand, sets).where(F.col("jaccard") >= NGRAM_TAU)


def _minhash_signatures(sets: DataFrame) -> DataFrame:
    """K lexicographic-min seeded-md5 minhashes per doc, computed
    array-natively (array_min over a transform of the shingle-set
    array) — a narrow per-row projection with NO shuffle, versus the
    exploded groupBy's full-corpus shuffle. Docs with an empty
    shingle set get null minhashes and are dropped (the exploded
    formulation never produced rows for them)."""
    def seeded(j: int):
        # One-parameter lambda on purpose: a second Python parameter
        # (even a default like ``j=j``) makes PySpark bind the
        # (element, index) binary-lambda form, turning the seed into
        # the array-index Column and the lit into its repr string.
        return lambda s: F.md5(F.concat(F.lit(f"{j}:"), s))

    mh = [
        F.array_min(F.transform("ss", seeded(j))).alias(f"mh{j}")
        for j in range(MINHASH_K)
    ]
    return sets.where(F.col("n") > 0).select("doc_id", *mh)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH: signature → band hashes → bucket join for
    candidates → exact-Jaccard verify (only on candidates)."""
    sets = _doc_shingle_sets(spark, sf_dir)
    sig = _minhash_signatures(sets)
    r = MINHASH_K // LSH_BANDS
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh{b * r + i}") for i in range(r)])
        ).alias(f"band{b}")
        for b in range(LSH_BANDS)
    ]
    banded = sig.select("doc_id", *band_cols)
    melted = banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash")
                )
                for b in range(LSH_BANDS)
            ])
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_hash")
    a = melted.select(
        F.col("doc_id").alias("id_a"), "band_idx", F.col("band_hash").alias("h_a")
    )
    b = melted.select(
        F.col("doc_id").alias("id_b"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_hash").alias("h_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("h_a") == F.col("h_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_pairs(cand, sets).where(F.col("jaccard") >= NGRAM_TAU)


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: each bit is the majority vote over distinct
    tokens of the high bit of one md5 hex nibble (hex char >= '8').

    Array-native: token md5s are materialized once per doc (the
    cache barrier stops Catalyst re-inlining the regexp+md5 into
    all 32 bit expressions), then each bit is an ``aggregate`` fold
    over that array — a shuffle-free per-row projection, versus the
    exploded formulation's tokens × 32 blow-up plus two groupBy
    shuffles. At 100 TB the signature stage is then map-only."""
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    hs = doc.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens(F.col("text"))), lambda t: F.md5(t)
        ).alias("hs"),
    ).cache()
    bit = lambda i: F.when(  # noqa: E731
        F.aggregate(
            "hs",
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.substring(h, i, 1) >= "8", 1).otherwise(-1),
        )
        > 0,
        F.lit("1"),
    ).otherwise(F.lit("0"))
    return hs.where(F.size("hs") > 0).select(
        "doc_id",
        F.concat(*[bit(i) for i in range(1, SIMHASH_BITS + 1)]).alias("simhash"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit signature into 4 bytes,
    bucket-join on any equal band, verify Hamming ≤ threshold.

    r12 (first coverage-bench catch — 176s at sf0.1, never timed
    before): on the synthetic corpus most documents share token
    distributions, so their 32-bit majority-vote signatures collide
    in the 8-bit band buckets and ~n²/16 candidates survive to the
    Hamming check. The semantics are oracle-locked, but two constant
    factors were wrong for that volume: the per-candidate Hamming was
    a 32-element string zip_with/aggregate fold (alloc-heavy), now
    ONE xor + bit_count on the signature parsed to an int (identical
    values: chars are '0'/'1', so per-position inequality == the xor
    popcount); and the Hamming filter now runs BEFORE the pair
    distinct, so the dedup shuffle carries only survivors, thin
    (id, id, int) rows instead of 32-char signature strings.
    Measured same-session at sf0.1: 176s -> ~8s. r13 removed the
    last post-join shuffle too: pairs emit exactly once from their
    FIRST agreeing band (band k recovered from the signature int as
    (sig >> (24-8k)) & 0xFF) instead of being distinct()-ed — 14.2s
    -> 5.4s same-session at sf0.1 on the ~7.5M-pair output. A 32-bit
    simhash over 8-bit bands remains a CORRECTNESS BASELINE for
    homogeneous corpora — its ≤6-of-32 gate still passes 7.5M pairs
    where the wide sibling's Manku-threshold gate passes 554k. The
    in-family scale sibling is ``dedup_simhash_wide`` (r13: 64-bit
    signature, 4 x 16-bit bands, k = 3); the production text
    near-dup path is dedup_minhash_lsh."""
    sig = _simhash_signatures(spark, sf_dir).withColumn(
        "sig_int", F.conv("simhash", 2, 10).cast("long"))
    n_bands, width = 4, SIMHASH_BITS // 4
    melted = sig.select(
        "doc_id",
        "sig_int",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.substring("simhash", j * width + 1, width).alias("band"),
                )
                for j in range(n_bands)
            ])
        ).alias("bd"),
    ).select("doc_id", "sig_int", "bd.band_idx", "bd.band")
    a = melted.select(
        F.col("doc_id").alias("id_a"), F.col("sig_int").alias("int_a"),
        "band_idx", F.col("band").alias("band_a"),
    )
    b = melted.select(
        F.col("doc_id").alias("id_b"), F.col("sig_int").alias("int_b"),
        F.col("band_idx").alias("band_idx_b"), F.col("band").alias("band_b"),
    )
    hamming = F.bit_count(F.col("int_a").bitwiseXOR(F.col("int_b")))

    # First-match-only emission (r13, backported from the wide
    # sibling): a pair agreeing on several bands used to surface once
    # per band and be distinct()-ed — on this corpus a ~7.5M-row
    # shuffle. Band k of the 32-bit signature is (sig >> (24-8k)) &
    # 0xFF, recoverable from the int already riding the join row, so
    # each pair keeps only the row whose band_idx is its FIRST
    # agreeing band — exactly-once by construction, no shuffle.
    def band_of(col: str, k: int):
        width = SIMHASH_BITS // 4
        return F.shiftrightunsigned(
            F.col(col), SIMHASH_BITS - width * (k + 1)
        ).bitwiseAND(F.lit((1 << width) - 1))

    no_earlier_band_matches = F.lit(True)
    for k in range(n_bands - 1):
        no_earlier_band_matches = no_earlier_band_matches & (
            (F.col("band_idx") <= k)
            | (band_of("int_a", k) != band_of("int_b", k))
        )
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_a") == F.col("band_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(no_earlier_band_matches)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def _simhash_signatures_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures: bits 1-32 are the majority vote of
    ``md5(token)`` nibble high bits (bit-identical to the 32-bit
    signature's definition), bits 33-64 vote on
    ``md5(token || SIMHASH_WIDE_SALT)`` — a second independent member
    of the same md5 hash family, so the widening needs no new
    primitive and stays oracle-expressible.

    Since r15 this is a thin projection of the ONE implementation of
    the bit contract, ``streaming.dedupe.simhash_tag`` (the
    Generate-barrier one-aggregate vote fold). Until then the stage
    carried its own per-bit fold behind two ``cache()`` barriers —
    a load-bearing bit contract maintained in two places (drift
    risk, VERDICT r14 item 3), and the barriers materialized a
    corpus-sized token/md5 cache per run (the 11.2 s cold coverage
    row). The unified fold folds each hash-family array into a
    32-counter vote array in ONE ``aggregate`` and needs no cache:
    map-only at 100 TB, streaming- and batch-identical by
    construction. The independent bit pin moved from the retired
    twin-implementation test to a pure-Python md5 reference
    (tests/test_streaming.py) plus the DuckDB oracle."""
    from ..streaming.dedupe import simhash_tag  # noqa: PLC0415 — lazy, cycle-free

    # DOC_SCATTER_BPT A/B'd against full width in one session: medians
    # identical (1.52 s both, hot ambient window) and the driver's
    # c8/c32 ratio is 0.91 ≈ flat — the banded fold amortizes either
    # width, so the shared budget stays for policy consistency.
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    return simhash_tag(doc).select("doc_id", "simhash")


def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over a 64-bit signature banded 4 x 16.

    The scale sibling VERDICT r12 asked for (What's wrong #4): the
    32-bit/8-bit-band geometry of ``dedup_simhash`` under-discriminates
    on homogeneous corpora — 256 buckets per band let ~n²/16
    candidates survive banding even after the r12 constant-factor
    fixes. Doubling the signature and widening bands to 16 bits gives
    65536 buckets per band, so band agreement demands 16 consecutive
    bit matches instead of 8 — the candidate set shrinks roughly
    quadratically in the per-bit disagreement rate while qualifying
    pairs (Hamming ≤ k = 3, below) still collide with the same
    any-band pigeonhole structure as the 32-bit baseline.

    Verification is the r12 int-xor form, split across the two
    32-bit halves (``conv`` of the full 64-char string can overflow
    BIGINT's signed range): one xor + bit_count per half, filtered
    BEFORE the pair distinct so the dedup shuffle carries only thin
    survivor rows. The Hamming threshold is k = 3 — the published
    production operating point for 64-bit fingerprints (Manku, Jain
    & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07,
    §3: k = 3 over f = 64 for an 8B-page corpus). Keeping the
    32-bit key's ≤ 6 at 64 bits would be a LOOSER gate relative to
    signature noise: on a homogeneous corpus expected inter-doc
    Hamming stays well under 6 of 64, and the pair output balloons
    (measured at sf0.1: 1.86M pairs under k = 6 vs 554k under k = 3).
    The operator is OUTPUT-BOUND on this corpus — 554k of 12.5M doc
    pairs are genuine k ≤ 3 near-dups (13.7x fewer than the 32-bit
    baseline's ≤ 6-of-32 output), so wall time is bounded by the
    corpus's own near-dup mass, not by banding; the extra ~3s over
    the first-match-rewritten baseline buys the 2x signature and the
    two-halves verify that the tighter gate is made of. k = 3 < 4
    bands also buys the Manku pigeonhole guarantee: every qualifying
    pair agrees on at least one full band, so banding recall is
    EXACT, not probabilistic.
    """
    # One signature/band implementation serves batch and streaming
    # (r15, VERDICT r14 item 3): corpus_band_table = Generate-barrier
    # simhash_tag + the 4x16 band melt, exactly the frame the ingest
    # flagger joins against — so nightly-batch pairs and ingest-time
    # flags share every stage up to the join by construction.
    from ..streaming.dedupe import corpus_band_table  # noqa: PLC0415

    melted = corpus_band_table(scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT))
    a = melted.select(
        F.col("doc_id").alias("id_a"), F.col("sig_hi").alias("hi_a"),
        F.col("sig_lo").alias("lo_a"), "band_idx",
        F.col("band").alias("band_a"),
    )
    b = melted.select(
        F.col("doc_id").alias("id_b"), F.col("sig_hi").alias("hi_b"),
        F.col("sig_lo").alias("lo_b"),
        F.col("band_idx").alias("band_idx_b"), F.col("band").alias("band_b"),
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )

    # First-match-only emission replaces the pair ``distinct()``: a
    # pair whose signatures agree on several bands would surface once
    # per agreeing band, and distinct-ing ~1.5M survivor rows was the
    # only post-join shuffle left in the plan. Every band value is
    # recoverable from the signature ints already riding the join row
    # (band 2j = hi>>16 etc.), so each candidate keeps only the row
    # whose band_idx is the FIRST agreeing band — exactly-once per
    # pair by construction, no shuffle, a per-row int predicate.
    def band_int(hi: str, lo: str, k: int):
        src = F.col(hi) if k < 2 else F.col(lo)
        if k % 2 == 0:
            return F.shiftrightunsigned(src, SIMHASH_WIDE_BITS // 4)
        return src.bitwiseAND(F.lit((1 << (SIMHASH_WIDE_BITS // 4)) - 1))

    no_earlier_band_matches = F.lit(True)
    for k in range(SIMHASH_WIDE_BANDS - 1):
        no_earlier_band_matches = no_earlier_band_matches & (
            (F.col("band_idx") <= k)
            | (band_int("hi_a", "lo_a", k) != band_int("hi_b", "lo_b", k))
        )
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_a") == F.col("band_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(no_earlier_band_matches)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= SIMHASH_WIDE_MAX_HAMMING)
    )


def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup flagging: INCOMING documents vs the
    standing corpus (the batch twin of dedup-on-ingest, r14).

    Splits ``documents`` deterministically (a doc is incoming iff the
    first hex char of ``md5('ingest:' || doc_id)`` is '0' — the
    repo's cross-engine sampling-gate convention, ~1/16 of the
    corpus) and emits (doc_id, dup_of, hamming) for every incoming
    document within Hamming ≤ k of a CORPUS document — the exact
    directional semantic the streaming ingest flagger applies per
    micro-batch, run here through the SAME code
    (``streaming.dedupe.flag_near_dups`` over ``corpus_band_table``),
    so the driver's DuckDB oracle pins the ingest path, not a
    batch re-implementation of it.  Unlike ``dedup_simhash_wide``
    this never self-joins the corpus: cost is |incoming| × the band
    collision rate — the incremental shape that stays linear in the
    ingest batch at 100 TB.  The production deployment materializes
    the corpus side once per roll via
    ``streaming.dedupe.materialize_corpus_bands`` (managed-table
    layer; roll pickup pinned by tests/test_streaming.py) — the live
    composition here keeps the registry entry side-effect-free.
    """
    from ..streaming.dedupe import (  # noqa: PLC0415 (avoid import cycle)
        corpus_band_table,
        flag_near_dups,
    )

    docs = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    gate = F.substring(
        F.md5(F.concat(F.lit("ingest:"), F.col("doc_id").cast("string"))),
        1, 1,
    ) == "0"
    return flag_near_dups(docs.where(gate),
                          corpus_band_table(docs.where(~gate)))


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ τ. Exact all-pairs here
    (the oracle-checked correctness baseline, O(n²) by definition —
    never the production path); the bucketed scale path is
    dedup_embedding_lsh below. Deterministic left-fold dot product."""
    emb = scatter(load_table(spark, sf_dir, "embeddings"),
                  min_input_bytes=2 << 20)
    v = emb.select(
        "vec_id",
        as_double_vec(F.col("embedding")).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")
    )
    cos = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= COSINE_TAU)
        .select("id_a", "id_b", "cosine")
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding dedup: random-hyperplane band buckets →
    exact-cosine verify on candidates only (same candidates→verify
    shape as dedup_minhash_lsh; fixes the all-pairs scale-killer of
    dedup_embedding_cosine at the cost of banded-LSH recall).

    A pair is a candidate iff ANY of the b=16 8-bit signature bands
    matches (see similarity.py for the pruning-vs-recall tuning); the
    band table carries only (vec_id, band, bsig) — the
    vectors are re-joined only for candidate pairs. Because the
    hyperplanes are deterministic (md5-seeded ±1), the full pipeline
    is reproducible in SQL, so this operator is ORACLE-CHECKED even
    though it is approximate relative to the exact baseline.

    Entry contract (r11): like every lsh_signature consumer, the
    input goes through ``similarity._vectors`` — ONE source of truth
    for the ``_valid_vec`` filter + double cast + norm (invalid
    vectors are a DQ finding, ``dq_embedding_health``, not index
    members) — and the oracle applies the identical
    ``_SQL_VALID_VEC`` predicate, so the drop is explicit and
    parity-checked, not incidental.
    """
    from .similarity import _vectors, lsh_signature  # noqa: PLC0415

    # cache: vectors feed both verify sides, signatures feed both
    # band sides — materialize each once (table writes at 100 TB)
    v = _vectors(spark, sf_dir).cache()
    sig = v.select("vec_id", lsh_signature(F.col("v")).alias("sig")).cache()
    bands = sig.select(
        "vec_id", F.posexplode(F.col("sig")).alias("band", "bsig")
    )
    a = bands.select(F.col("vec_id").alias("id_a"), "band", F.col("bsig").alias("bsig_a"))
    b = bands.select(
        F.col("vec_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bsig").alias("bsig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # maybe_broadcast (guide §3.1): at bench SFs the vector table is
    # MBs, but its Catalyst estimate (a cached Python-UDF projection)
    # lands just over the 10 MB auto threshold at sf1, flipping BOTH
    # verify joins to sort-merge — two full shuffles+sorts of the
    # candidate-pair table carrying 64-double arrays (measured 23-107s
    # at sf1 vs seconds broadcast). The gate stays scale-safe: above
    # the threshold the hint is withheld and AQE picks from runtime
    # stats, which is the correct shuffled join at corpus scale.
    from ..functions.joins import maybe_broadcast  # noqa: PLC0415

    va = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    cos = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        cand.join(maybe_broadcast(va, max_bytes=64 << 20), "id_a")
        .join(maybe_broadcast(vb, max_bytes=64 << 20), "id_b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= COSINE_TAU)
        .select("id_a", "id_b", "cosine")
    )


def dedup_embedding_lsh_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-CORPUS banding geometry for embedding dedup: the
    same 128-plane signature re-banded as 8 bands × 16 bits (adjacent
    8-bit band ints fused arithmetically: wide_j = sig_{2j}·256 +
    sig_{2j+1}), so each band has 2^16 buckets instead of 2^8.

    Why this exists (r6 scale measurement): with FIXED band width,
    bucket occupancy grows linearly in corpus size and candidate
    pairs grow QUADRATICALLY — the synthesized 10× dataset showed
    dedup_embedding_lsh's candidates going 149k → 16.0M (107×) and
    its runtime 1.4s → 20s. Doubling the band width squares the
    bucket count, pulling expected occupancy back to O(n/2^16): band
    width ∝ log₂(n) is THE scale knob for LSH self-joins (SURVEY §6).
    The recall trade is explicit: collision for a pair at angle θ is
    1-(1-p^16)^8, ≈0.97 at cos 0.98 (duplicate-grade, the dedup
    contract) but lower for mid-similarity pairs — the narrow-band
    operator remains the high-recall geometry for small corpora.
    Deterministic planes ⇒ same oracle-replay guarantee.  Same
    ``similarity._vectors`` entry (valid-vec filter + cast + norm in
    one place) + ``_SQL_VALID_VEC`` oracle predicate as the narrow
    geometry (r11)."""
    from .similarity import LSH_BANDS as EMB_BANDS  # noqa: PLC0415
    from .similarity import _vectors, lsh_signature  # noqa: PLC0415

    v = _vectors(spark, sf_dir).cache()
    sig = v.select("vec_id", lsh_signature(F.col("v")).alias("sig"))
    wide = sig.select(
        "vec_id",
        F.array(*[
            (F.element_at("sig", 2 * j + 1) * 256
             + F.element_at("sig", 2 * j + 2))
            for j in range(EMB_BANDS // 2)
        ]).alias("sig"),
    )
    bands = wide.select(
        "vec_id", F.posexplode(F.col("sig")).alias("band", "bsig")
    )
    a = bands.select(
        F.col("vec_id").alias("id_a"), "band",
        F.col("bsig").alias("bsig_a"))
    b = bands.select(
        F.col("vec_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bsig").alias("bsig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band_b"))
            & (F.col("bsig_a") == F.col("bsig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # same size-gated broadcast as the narrow geometry's verify joins
    # (see dedup_embedding_lsh): scale-safe, and avoids two sort-merge
    # shuffles of the candidate table carrying 64-double arrays
    from ..functions.joins import maybe_broadcast  # noqa: PLC0415

    va = v.select(F.col("vec_id").alias("id_a"),
                  F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = v.select(F.col("vec_id").alias("id_b"),
                  F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    cos = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        cand.join(maybe_broadcast(va, max_bytes=64 << 20), "id_a")
        .join(maybe_broadcast(vb, max_bytes=64 << 20), "id_b")
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= COSINE_TAU)
        .select("id_a", "id_b", "cosine")
    )


WIDE_MIN_VECTORS = 10_000  # corpus size where 8-bit buckets crowd out


def dedup_embedding_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-size-adaptive banding — the production entry point: the
    narrow high-recall geometry (16×8-bit) below WIDE_MIN_VECTORS,
    the occupancy-controlled wide geometry (8×16-bit) above it. The
    decision reads ONE metadata-cheap count (the same discipline as
    the convergence probes); the oracle replays the identical
    branch from its own COUNT(*), so the adaptive operator stays
    fully SQL-checkable at every corpus size.  The branch counts the
    RAW table (corpus size including invalid rows — cheap, and the
    oracle's COUNT(*) must see the same number); the chosen geometry
    then applies its own ``_valid_vec`` entry filter."""
    # NOT scattered: this frame only feeds the metadata-cheap count —
    # a repartition before a count() would be a pure-overhead shuffle.
    emb = load_table(spark, sf_dir, "embeddings")
    if emb.count() >= WIDE_MIN_VECTORS:
        return dedup_embedding_lsh_wide(spark, sf_dir)
    return dedup_embedding_lsh(spark, sf_dir)


def _edge_table(pairs: DataFrame) -> DataFrame:
    """Both directions of every near-dup pair as distinct (src, dst)
    edges, built ONCE and EAGERLY, before the first round: one pass
    over ``pairs`` (an explode of the two orientations, not a union
    that runs the pair pipeline twice), cached and materialized by a
    count. Every round then reads the cache; built lazily, the edges
    would materialize inside round 1's jobs instead. Measured on
    perfbench's sf0.01 inputs: dedup_cluster_canonical 35 → 26 warm
    Spark jobs."""
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    edges.count()
    return edges


def cluster_pairs(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs via min-label
    propagation: every doc in a component converges to the
    component's minimum doc_id as its canonical id.

    Iterative (non-SQL-expressible): each round joins the current
    labels with the edge list — materialized once, before round 1
    (``_edge_table``) — and takes the min over neighbors —
    one shuffle per round on doc_id, converging in O(component
    diameter) rounds (near-dup components are shallow: dup clusters
    are cliques or short chains, so 2-3 rounds in practice; the
    driver-side loop only inspects a 1-row convergence count, the
    data never leaves executors). Each round's label frame is
    localCheckpoint-ed: the logical plan is TRUNCATED every round, so
    plan size — and Catalyst analysis cost — stays constant in round
    count instead of growing (measured ~1.5x faster than cache-only
    at sf0.01). At 100 TB the localCheckpoint (executor-local blocks)
    would become a reliable checkpoint to object storage, same loop.
    """
    edges = _edge_table(pairs)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("canonical_id", F.col("doc_id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("canonical_id").alias("nbr_min"))
        )
        # ONE join per round: the convergence probe and the label
        # update are two projections of the same materialized frame
        # (labels only ever decrease, so changed == some nbr_min
        # undercuts the current label). localCheckpoint(eager=False)
        # materializes on the probe count below AND cuts the lineage,
        # keeping every round's plan the same size.
        joined = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                "canonical_id",
                F.coalesce("nbr_min", "canonical_id").alias("nbr_min"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            joined.where(F.col("nbr_min") < F.col("canonical_id"))
            .limit(1)
            .count()
        )
        labels = joined.select(
            "doc_id",
            F.least("canonical_id", "nbr_min").alias("canonical_id"),
        )
        if changed == 0:
            break
    else:
        # partial labels would silently split one component into
        # several canonicals — refuse rather than return wrong output
        raise RuntimeError(
            f"cluster_pairs did not converge within {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels


def cluster_pairs_shortcut(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components in O(log diameter) rounds: each round
    combines the hash-to-min neighbor update with POINTER
    SHORTCUTTING (label ← label of my label), the two-phase contraction
    of the public MapReduce-CC literature (Kiveris et al.'s
    large-star/small-star family). Plain propagation needs
    diameter-many rounds — a 1M-link template-evolution chain at
    100 TB would take 1M shuffles; shortcutting needs ~20. Labels only
    ever decrease, convergence probe and update share one materialized
    frame per round (same localCheckpoint discipline as
    cluster_pairs)."""
    edges = _edge_table(pairs)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("canonical_id", F.col("doc_id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("canonical_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.col("canonical_id").alias("old_id"),
                F.least(
                    "canonical_id",
                    F.coalesce("nbr_min", "canonical_id"),
                ).alias("mid_id"),
            )
        )
        # shortcut: jump to the label OF my current label — the hop
        # that turns linear convergence into logarithmic
        parent = stepped.select(
            F.col("doc_id").alias("p_doc"),
            F.col("mid_id").alias("p_label"),
        )
        joined = (
            stepped.join(parent, stepped.mid_id == parent.p_doc, "left")
            .select(
                "doc_id",
                "old_id",
                F.least(
                    "mid_id", F.coalesce("p_label", "mid_id")
                ).alias("canonical_id"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            joined.where(F.col("canonical_id") < F.col("old_id"))
            .limit(1)
            .count()
        )
        labels = joined.select("doc_id", "canonical_id")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"cluster_pairs_shortcut did not converge within {max_iters} "
            "rounds; raise max_iters"
        )
    return labels


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-doc assignment for the whole near-dup graph: MinHash
    LSH pairs as edges, connected components via min-label
    propagation, canonical = min doc_id per component. The end-to-end
    shape of a production dedup pass: candidates → verify → cluster →
    keep one per cluster. Iterative ⇒ rows-only driver check;
    component-correctness is property-tested in
    tests/test_dedup_properties.py."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return cluster_pairs(pairs).withColumn(
        "is_canonical", F.col("doc_id") == F.col("canonical_id")
    )


FUZZY_MAX_DIST = 4


def dedup_name_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking + edit-distance verify: candidate
    name pairs share a BLOCK (the last token — entity type), then the
    exact Levenshtein distance filters within the block. The classic
    record-linkage shape: the block join is equi (shuffles on the
    block key, never all-pairs), distances run only on candidates,
    and the distinct-name projection collapses the table to its name
    vocabulary first (64 names here; vocabulary-sized, not row-count-
    sized, at any scale). Levenshtein is a JVM expression with
    identical semantics in DuckDB — oracle-checked."""
    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct().select(
        "name", F.element_at(F.split("name", " "), -1).alias("block"))
    a = names.select(F.col("name").alias("name_a"),
                     F.col("block").alias("block_a"))
    b = names.select(F.col("name").alias("name_b"),
                     F.col("block").alias("block_b"))
    return (
        a.join(b, (F.col("block_a") == F.col("block_b"))
               & (F.col("name_a") < F.col("name_b")))
        .where(F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b",
                F.levenshtein("name_a", "name_b").alias("distance"))
    )


def dedup_cluster_canonical_fast(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """dedup_cluster_canonical through the O(log diameter)
    shortcutting solver — identical output (same recursive-CTE
    oracle), logarithmic rounds: the variant to run when the near-dup
    graph may contain long chains."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return cluster_pairs_shortcut(pairs).withColumn(
        "is_canonical", F.col("doc_id") == F.col("canonical_id")
    )


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the near-dup graph — the curation
    report that tells you whether dedup is removing pairs or whole
    template families (a heavy tail of giant clusters means boilerplate
    is flooding the corpus). Two tiny aggregates on top of the
    label-propagation output; oracle composes the recursive-CTE
    transitive closure."""
    lab = dedup_cluster_canonical(spark, sf_dir)
    per = lab.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return per.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"))


# --- cross-doc repeated-span (boilerplate) filter ------------------------
# The C4/RefinedWeb curation step the DOC-level families can't express:
# a span repeated across otherwise-distinct documents (headers, nav
# text, license blurbs) is boilerplate even when no two docs are
# near-dups. Spans here are fixed SPAN_W-token windows (the testdata
# has no line structure to split on); the partial tail span is dropped
# so every span is exactly SPAN_W tokens.
SPAN_W = 8
BOILER_MIN_DOCS = 2     # span in ≥ this many DISTINCT docs → boilerplate
BOILER_TAU = 0.5        # doc flagged when this fraction of spans repeat


def dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection: every doc is cut into
    non-overlapping SPAN_W-token spans, a span seen in ≥
    BOILER_MIN_DOCS distinct docs is boilerplate, and each doc reports
    its span counts + boilerplate fraction + flag. Three shuffles, all
    carrying only (doc_id, span-md5): explode → span-count aggregate →
    join back → per-doc aggregate. At 100 TB the span-count table is
    vocabulary-sized (spans hash to 16 bytes regardless of text
    length) and hot spans are exactly what AQE's skew-join splits."""
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    base = doc.select(
        "doc_id",
        F.floor(F.size(tokens(F.col("text"))).cast("double") / SPAN_W)
        .cast("int").alias("n_spans"),
        tokens(F.col("text")).alias("tk"),
    )
    spans = (
        base.where(F.col("n_spans") > 0)
        .select(
            "doc_id", "tk",
            F.explode(
                F.sequence(F.lit(0), F.col("n_spans") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(F.array_join(
                F.slice("tk", F.col("i") * SPAN_W + 1, SPAN_W), " "
            )).alias("h"),
        )
        # referenced twice (count + join-back): cache so the corpus is
        # tokenized ONCE — same discipline as the minhash shingle
        # stage. RETAINED-CACHE CONTRACT (same as _doc_shingle_sets):
        # the relation stays cached for the session, keyed on the
        # canonicalized plan, so repeated calls over the SAME input
        # dir share one materialization; a long-lived driver cycling
        # through many DISTINCT input dirs should call
        # spark.catalog.clearCache() between datasets (tests do).
        .cache()
    )
    counts = spans.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        spans.join(counts, "h")
        .groupBy("doc_id")
        .agg(F.sum((F.col("nd") >= BOILER_MIN_DOCS).cast("long"))
             .alias("n_boiler"))
    )
    frac = F.coalesce(
        F.col("n_boilerplate").cast("double")
        / F.nullif(F.col("n_spans"), F.lit(0)),
        F.lit(0.0),
    )
    return (
        base.select("doc_id", "n_spans")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_spans",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boilerplate"),
        )
        .select(
            "doc_id", "n_spans", "n_boilerplate",
            frac.alias("boiler_fraction"),
            (frac >= BOILER_TAU).alias("is_boilerplate_doc"),
        )
    )


# C4-style three-sentence-span dedup (Raffel et al. 2020 §2.2: "we
# discarded all but one of any three-sentence span occurring more
# than once in the data set").  Sentences are defined as the maximal
# [^.!?]*[.!?] chunks of the lowercased text — deterministic and
# identical in Java regex and RE2.
C4_SPAN_N = 3
C4_SENT_RE = "[^.!?]*[.!?]"


def dedup_c4_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 span dedup: every overlapping 3-sentence span is hashed and
    the corpus-wide FIRST occurrence (lexicographic min of (doc_id,
    span_idx)) is canonical; each doc reports its span count, how many
    of its spans are duplicates of an earlier occurrence, and a keep
    flag (no duplicated span).

    Scale shape: explode carries only (doc_id, span_idx, md5) — 16
    bytes per span regardless of sentence length.  First-occurrence
    is a groupBy(h).min(struct) — partial aggregation combines
    map-side, so a boilerplate span present in half the corpus (the
    hot-key case for this operator) reduces to one row per partition
    BEFORE the shuffle, where a window-over-hash formulation would
    drag every occurrence into one task.  The join back is
    hash-per-span against the one-row-per-distinct-span aggregate,
    then one per-doc aggregate.  All shuffles are md5-keyed —
    uniformly distributed by construction."""
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=DOC_SCATTER_BPT)
    # single-arg lambda on purpose: F.trim has an optional second
    # parameter (trim characters), so passing it bare would make
    # transform() call trim(element, index).
    sents = F.transform(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(C4_SENT_RE), F.lit(0)
        ),
        lambda s: F.trim(s),
    )
    # cache barrier BEFORE shingling — same discipline (and retained-
    # cache contract) as _doc_shingle_sets: shingles() references its
    # input array ~8×, and without the barrier Catalyst collapses the
    # projection so the sentence regexp re-runs per reference.
    sent_df = doc.select("doc_id", sents.alias("sents")).cache()
    spans = sent_df.select(
        "doc_id",
        F.posexplode(
            shingles(F.col("sents"), C4_SPAN_N)
        ).alias("span_idx", "sp"),
    ).select("doc_id", "span_idx", F.md5("sp").alias("h"))
    firsts = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("first")
    )
    per_doc = (
        spans.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                (
                    F.struct("doc_id", "span_idx") != F.col("first")
                ).cast("long")
            ).alias("n_dup_spans"),
        )
    )
    n_spans = F.coalesce("n_spans", F.lit(0).cast("long"))
    n_dup = F.coalesce("n_dup_spans", F.lit(0).cast("long"))
    return (
        doc.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_spans.alias("n_spans"),
            n_dup.alias("n_dup_spans"),
            (
                n_dup.cast("double")
                / F.nullif(n_spans.cast("double"), F.lit(0.0))
            ).alias("dup_span_ratio"),
            (n_dup == 0).cast("int").alias("keep"),
        )
    )


QUERIES = {
    "dedup_c4_spans": dedup_c4_spans,
    "dedup_boilerplate": dedup_boilerplate,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_wide": dedup_simhash_wide,
    "dedup_simhash_incremental": dedup_simhash_incremental,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_embedding_lsh_auto": dedup_embedding_lsh_auto,
    "dedup_cluster_canonical": dedup_cluster_canonical,
    "dedup_cluster_canonical_fast": dedup_cluster_canonical_fast,
    "dedup_name_fuzzy": dedup_name_fuzzy,
}

_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
_SH_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks)
    )
"""
_MH_COLS = ", ".join(
    f"min(md5('{j}:' || s)) AS mh{j}" for j in range(MINHASH_K)
)
_R = MINHASH_K // LSH_BANDS
_BAND_COLS = ", ".join(
    "md5(" + " || '|' || ".join(f"mh{b * _R + i}" for i in range(_R)) + f") AS band{b}"
    for b in range(LSH_BANDS)
)
_BAND_CASE = (
    "CASE j "
    + " ".join(f"WHEN {b} THEN band{b}" for b in range(LSH_BANDS))
    + " END"
)

_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)


_SELF_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)

# the MinHash-LSH candidate/verify pipeline as composable CTEs so the
# pair oracle and the cluster oracle share one definition
_MINHASH_CTES = f"""
    {_SH_CTE},
    sig AS (SELECT doc_id, {_MH_COLS} FROM sh GROUP BY doc_id),
    banded AS (SELECT doc_id, {_BAND_COLS} FROM sig),
    melted AS (
        SELECT doc_id, j AS band_idx, {_BAND_CASE} AS band_hash
        FROM banded, (SELECT unnest(range(0, {LSH_BANDS})) AS j)
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM melted x
        JOIN melted y ON x.band_idx = y.band_idx
                     AND x.band_hash = y.band_hash
                     AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.id_a
        JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
        GROUP BY 1, 2
    ),
    mh_pairs AS (
        SELECT id_a, id_b,
               CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
        FROM inter
        JOIN sizes na ON id_a = na.doc_id
        JOIN sizes nb ON id_b = nb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= {NGRAM_TAU}
    )
"""

ORACLES = {
    "dedup_exact": """
        SELECT doc_id,
               md5(text) AS content_hash,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
               doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        FROM documents
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SH_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        rare AS (
            SELECT s FROM sh GROUP BY s
            HAVING COUNT(*) <= (
                SELECT GREATEST(CAST(CEIL(
                    COUNT(*) * {NGRAM_DF_CAP_FRAC} / 100.0) AS BIGINT),
                    {NGRAM_DF_CAP_MIN})
                FROM documents)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM sh x
            JOIN rare r ON r.s = x.s
            JOIN sh y ON y.s = x.s AND x.doc_id < y.doc_id
        ),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS n_common
            FROM cand c
            JOIN sh x ON x.doc_id = c.id_a
            JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
        FROM inter
        JOIN sizes na ON id_a = na.doc_id
        JOIN sizes nb ON id_b = nb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= {NGRAM_TAU}
    """,
    "dedup_minhash_lsh": f"""
        WITH {_MINHASH_CTES}
        SELECT id_a, id_b, jaccard FROM mh_pairs
    """,
    "dedup_cluster_canonical": f"""
        WITH RECURSIVE {_MINHASH_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM mh_pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM mh_pairs
        ),
        reach(doc_id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.doc_id
        )
        SELECT doc_id,
               MIN(r) AS canonical_id,
               doc_id = MIN(r) AS is_canonical
        FROM reach GROUP BY doc_id
    """,
    "dedup_cluster_sizes": f"""
        WITH RECURSIVE {_MINHASH_CTES},
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM mh_pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM mh_pairs
        ),
        reach(doc_id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, rc.r FROM edges e JOIN reach rc ON e.dst = rc.doc_id
        ),
        labels AS (
            SELECT doc_id, MIN(r) AS canonical_id FROM reach GROUP BY doc_id
        ),
        per AS (
            SELECT canonical_id, COUNT(*) AS cluster_size
            FROM labels GROUP BY 1
        )
        SELECT cluster_size, COUNT(*) AS n_clusters FROM per GROUP BY 1
    """,
    "dedup_simhash": f"""
        WITH ut AS (
            SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
        ),
        votes AS (
            SELECT doc_id, i,
                   SUM(CASE WHEN substr(md5(t), i, 1) >= '8'
                            THEN 1 ELSE -1 END) AS vote
            FROM ut, (SELECT unnest(range(1, {SIMHASH_BITS + 1})) AS i)
            GROUP BY doc_id, i
        ),
        sig AS (
            SELECT doc_id,
                   string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END,
                              '' ORDER BY i) AS simhash
            FROM votes GROUP BY doc_id
        ),
        melted AS (
            SELECT doc_id, simhash, j AS band_idx,
                   substr(simhash, j * 8 + 1, 8) AS band
            FROM sig, (SELECT unnest(range(0, 4)) AS j)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, x.simhash AS sig_a,
                            y.doc_id AS id_b, y.simhash AS sig_b
            FROM melted x
            JOIN melted y ON x.band_idx = y.band_idx AND x.band = y.band
                         AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b,
               CAST(list_sum(list_transform(range(1, {SIMHASH_BITS + 1}),
                   i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                             THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
        FROM cand
        WHERE list_sum(list_transform(range(1, {SIMHASH_BITS + 1}),
                  i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                            THEN 0 ELSE 1 END)) <= {SIMHASH_MAX_HAMMING}
    """,
    "dedup_simhash_wide": f"""
        WITH ut AS (
            SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
        ),
        votes AS (
            SELECT doc_id, i,
                   SUM(CASE WHEN substr(
                           CASE WHEN i <= {SIMHASH_WIDE_BITS // 2}
                                THEN md5(t)
                                ELSE md5(t || '{SIMHASH_WIDE_SALT}') END,
                           CASE WHEN i <= {SIMHASH_WIDE_BITS // 2}
                                THEN i ELSE i - {SIMHASH_WIDE_BITS // 2} END,
                           1) >= '8'
                            THEN 1 ELSE -1 END) AS vote
            FROM ut,
                 (SELECT unnest(range(1, {SIMHASH_WIDE_BITS + 1})) AS i)
            GROUP BY doc_id, i
        ),
        sig AS (
            SELECT doc_id,
                   string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END,
                              '' ORDER BY i) AS simhash
            FROM votes GROUP BY doc_id
        ),
        melted AS (
            SELECT doc_id, simhash, j AS band_idx,
                   substr(simhash,
                          j * {SIMHASH_WIDE_BITS // SIMHASH_WIDE_BANDS} + 1,
                          {SIMHASH_WIDE_BITS // SIMHASH_WIDE_BANDS}) AS band
            FROM sig,
                 (SELECT unnest(range(0, {SIMHASH_WIDE_BANDS})) AS j)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS id_a, x.simhash AS sig_a,
                            y.doc_id AS id_b, y.simhash AS sig_b
            FROM melted x
            JOIN melted y ON x.band_idx = y.band_idx AND x.band = y.band
                         AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b,
               CAST(list_sum(list_transform(
                   range(1, {SIMHASH_WIDE_BITS + 1}),
                   i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                             THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
        FROM cand
        WHERE list_sum(list_transform(range(1, {SIMHASH_WIDE_BITS + 1}),
                  i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                            THEN 0 ELSE 1 END)) <= {SIMHASH_WIDE_MAX_HAMMING}
    """,
    "dedup_simhash_incremental": f"""
        WITH ut AS (
            SELECT DISTINCT doc_id, t FROM (
                SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
        ),
        votes AS (
            SELECT doc_id, i,
                   SUM(CASE WHEN substr(
                           CASE WHEN i <= {SIMHASH_WIDE_BITS // 2}
                                THEN md5(t)
                                ELSE md5(t || '{SIMHASH_WIDE_SALT}') END,
                           CASE WHEN i <= {SIMHASH_WIDE_BITS // 2}
                                THEN i ELSE i - {SIMHASH_WIDE_BITS // 2} END,
                           1) >= '8'
                            THEN 1 ELSE -1 END) AS vote
            FROM ut,
                 (SELECT unnest(range(1, {SIMHASH_WIDE_BITS + 1})) AS i)
            GROUP BY doc_id, i
        ),
        sig AS (
            SELECT doc_id,
                   string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END,
                              '' ORDER BY i) AS simhash,
                   substr(md5('ingest:' || doc_id), 1, 1) = '0' AS incoming
            FROM votes GROUP BY doc_id
        ),
        melted AS (
            SELECT doc_id, simhash, incoming, j AS band_idx,
                   substr(simhash,
                          j * {SIMHASH_WIDE_BITS // SIMHASH_WIDE_BANDS} + 1,
                          {SIMHASH_WIDE_BITS // SIMHASH_WIDE_BANDS}) AS band
            FROM sig,
                 (SELECT unnest(range(0, {SIMHASH_WIDE_BANDS})) AS j)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id, x.simhash AS sig_a,
                            y.doc_id AS dup_of, y.simhash AS sig_b
            FROM melted x
            JOIN melted y ON x.band_idx = y.band_idx AND x.band = y.band
            WHERE x.incoming AND NOT y.incoming
        )
        SELECT doc_id, dup_of,
               CAST(list_sum(list_transform(
                   range(1, {SIMHASH_WIDE_BITS + 1}),
                   i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                             THEN 0 ELSE 1 END)) AS INTEGER) AS hamming
        FROM cand
        WHERE list_sum(list_transform(range(1, {SIMHASH_WIDE_BITS + 1}),
                  i -> CASE WHEN substr(sig_a, i, 1) = substr(sig_b, i, 1)
                            THEN 0 ELSE 1 END)) <= {SIMHASH_WIDE_MAX_HAMMING}
    """,
    "dedup_embedding_cosine": f"""
        WITH v AS (
            SELECT vec_id, embedding, sqrt({_SELF_DOT}) AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_DOT} / (a.nrm * b.nrm) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_DOT} / (a.nrm * b.nrm) >= {COSINE_TAU}
    """,
}


def _emb_lsh_oracle() -> str:
    from .similarity import (  # noqa: PLC0415
        _SQL_VALID_VEC,
        BAND_SQL,
        LSH_BANDS as EMB_BANDS,
        lsh_band_sql_cols,
    )

    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv,
                   sqrt({_SELF_DOT}) AS nrm
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        sig AS (SELECT vec_id, {lsh_band_sql_cols()} FROM v),
        melted AS (
            SELECT vec_id, j AS band_idx, {BAND_SQL} AS band
            FROM sig, (SELECT unnest(range(0, {EMB_BANDS})) AS j)
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM melted x
            JOIN melted y ON x.band_idx = y.band_idx AND x.band = y.band
                         AND x.vec_id < y.vec_id
        )
        SELECT c.id_a, c.id_b, {_DOT} / (a.nrm * b.nrm) AS cosine
        FROM cand c
        JOIN v a ON a.vec_id = c.id_a
        JOIN v b ON b.vec_id = c.id_b
        WHERE {_DOT} / (a.nrm * b.nrm) >= {COSINE_TAU}
    """


ORACLES["dedup_embedding_lsh"] = _emb_lsh_oracle()


def _emb_lsh_wide_oracle() -> str:
    """Replay of the 16-bit re-banding: wide_j = b{2j}*256 + b{2j+1}
    over the same plane-fold band columns."""
    from .similarity import _SQL_VALID_VEC  # noqa: PLC0415
    from .similarity import LSH_BANDS as EMB_BANDS  # noqa: PLC0415
    from .similarity import lsh_band_sql_cols  # noqa: PLC0415

    wide_case = (
        "CASE j "
        + " ".join(
            f"WHEN {j} THEN b{2 * j} * 256 + b{2 * j + 1}"
            for j in range(EMB_BANDS // 2)
        )
        + " END"
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv,
                   sqrt({_SELF_DOT}) AS nrm
            FROM embeddings WHERE {_SQL_VALID_VEC}
        ),
        sig AS (SELECT vec_id, {lsh_band_sql_cols()} FROM v),
        melted AS (
            SELECT vec_id, j AS band_idx, {wide_case} AS band
            FROM sig, (SELECT unnest(range(0, {EMB_BANDS} // 2)) AS j)
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM melted x
            JOIN melted y ON x.band_idx = y.band_idx AND x.band = y.band
                         AND x.vec_id < y.vec_id
        )
        SELECT c.id_a, c.id_b, {_DOT} / (a.nrm * b.nrm) AS cosine
        FROM cand c
        JOIN v a ON a.vec_id = c.id_a
        JOIN v b ON b.vec_id = c.id_b
        WHERE {_DOT} / (a.nrm * b.nrm) >= {COSINE_TAU}
    """


ORACLES["dedup_embedding_lsh_auto"] = f"""
    WITH nc AS (SELECT COUNT(*) AS c FROM embeddings)
    SELECT * FROM ({_emb_lsh_oracle()})
    WHERE (SELECT c FROM nc) < {WIDE_MIN_VECTORS}
    UNION ALL
    SELECT * FROM ({_emb_lsh_wide_oracle()})
    WHERE (SELECT c FROM nc) >= {WIDE_MIN_VECTORS}
"""
# identical output contract, different solver — same replay
ORACLES["dedup_cluster_canonical_fast"] = ORACLES["dedup_cluster_canonical"]

ORACLES["dedup_boilerplate"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    base AS (
        SELECT doc_id,
               CAST(FLOOR(CAST(len(tk) AS DOUBLE) / {SPAN_W}) AS INTEGER)
                   AS n_spans,
               tk
        FROM toks
    ),
    seg AS (
        SELECT doc_id,
               md5(array_to_string(
                   tk[(i * {SPAN_W} + 1):(i * {SPAN_W} + {SPAN_W})], ' '
               )) AS h
        FROM (
            SELECT doc_id, tk, unnest(range(0, n_spans)) AS i
            FROM base WHERE n_spans > 0
        )
    ),
    counts AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM seg GROUP BY 1),
    per_doc AS (
        SELECT seg.doc_id,
               SUM(CASE WHEN counts.nd >= {BOILER_MIN_DOCS}
                   THEN 1 ELSE 0 END) AS n_boiler
        FROM seg JOIN counts USING (h) GROUP BY 1
    )
    SELECT b.doc_id, b.n_spans,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boilerplate,
           COALESCE(CAST(COALESCE(p.n_boiler, 0) AS DOUBLE)
                    / NULLIF(b.n_spans, 0), 0.0) AS boiler_fraction,
           COALESCE(CAST(COALESCE(p.n_boiler, 0) AS DOUBLE)
                    / NULLIF(b.n_spans, 0), 0.0) >= {BOILER_TAU}
               AS is_boilerplate_doc
    FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
"""

ORACLES["dedup_name_fuzzy"] = f"""
    WITH names AS (
        SELECT DISTINCT p_name AS name,
               list_extract(string_split(p_name, ' '), -1) AS block
        FROM part
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS distance
    FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
"""

ORACLES["dedup_c4_spans"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_transform(
                   regexp_extract_all(lower(text), '{C4_SENT_RE}'),
                   s -> trim(s)) AS sents
        FROM documents
    ),
    sp AS (
        SELECT doc_id,
               list_transform(range(1, len(sents) - 1),
                   i -> sents[i] || ' ' || sents[i+1] || ' ' || sents[i+2])
                   AS spans
        FROM t
    ),
    e AS (
        SELECT doc_id,
               generate_subscripts(spans, 1) AS span_idx,
               unnest(spans) AS sp_text
        FROM sp
    ),
    r AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(sp_text)
                                  ORDER BY doc_id, span_idx) AS rn
        FROM e
    ),
    pd AS (
        SELECT doc_id,
               COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup
        FROM r GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(pd.n_spans, 0) AS n_spans,
           COALESCE(pd.n_dup, 0) AS n_dup_spans,
           CAST(COALESCE(pd.n_dup, 0) AS DOUBLE)
               / NULLIF(CAST(COALESCE(pd.n_spans, 0) AS DOUBLE), 0.0)
               AS dup_span_ratio,
           CAST(COALESCE(pd.n_dup, 0) = 0 AS INTEGER) AS keep
    FROM documents d LEFT JOIN pd USING (doc_id)
"""
