"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a narrow map over every vector plus a
TakeOrdered; no shuffle of the vectors themselves. Scale path: LSH with
random-hyperplane signatures — vectors are bucketed by sign pattern and
only the query's bucket is scanned exactly (at 100 TB the bucket column is
a partition/cluster key, so the scan prunes to ~1/2^bits of the data).

Determinism: all dot products accumulate left-to-right over the array in
both engines; results round cosines to 6 decimals before ranking (double
accumulation differences live at ~1e-15, far below the rounding grain).
Hyperplanes are seeded pseudo-random literals shared by the Spark plan and
the DuckDB oracle.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import load_table

QUERY_VEC_ID = 0
TOP_K = 10
N_PLANES_BASE = 8
N_PLANES = N_PLANES_BASE  # current value; see set_ann_scale
DIM = 64
ANN_N_REF = 2_000  # reference vector count (driver sf0.1 embeddings)


def _hyperplanes() -> list[list[float]]:
    rng = random.Random(1234)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(DIM)]
        for _ in range(N_PLANES)
    ]


HYPERPLANES = _hyperplanes()


def lsh_planes_for(n_vectors: int) -> int:
    """Code-space sizing rule (VERDICT r06 #3), same law as
    dedup.emb_bits_for: one extra hyperplane per corpus doubling past
    ANN_N_REF keeps single-probe bucket occupancy N / 2^N_PLANES
    roughly constant (~8 vectors at every scale). Integer arithmetic
    only."""
    return N_PLANES_BASE + max(
        0, (max(1, n_vectors) // ANN_N_REF).bit_length() - 1
    )


def ivf_centroids_for(n_vectors: int) -> int:
    """IVF cell-count rule: K grows ~sqrt(N) (one doubling per ~4x
    corpus — the standard IVF sizing, cells of ~sqrt(N) vectors), from
    N_CENTROIDS_BASE at ANN_N_REF. The centroids stay folded literals
    (see _centroids); past K ~ 64 a production deployment switches the
    assign step to a broadcast-joined centroid relation trained by
    k-means — the literal fold is the correctness-checkable stand-in."""
    extra = max(0, (max(1, n_vectors) // ANN_N_REF).bit_length() - 1)
    return N_CENTROIDS_BASE << ((extra + 1) // 2)


def set_ann_scale(n_vectors: int | None = None) -> tuple[int, int]:
    """Re-derive the ANN code spaces (single/multi-probe LSH planes and
    IVF centroid count) for an ``n_vectors``-sized corpus (None = reset
    to reference defaults, which exactly match the fixed pre-r07
    constants). Both engines read the regenerated literals at
    expression-build time, so the Spark plan and the DuckDB oracle move
    in lockstep. Clears the plan cache. Returns (N_PLANES,
    N_CENTROIDS). Also re-derives REC_EVERY (rec_every_for) so the
    recall-eval set stays ~REC_QUERIES queries at any N."""
    global N_PLANES, HYPERPLANES, N_CENTROIDS, CENTROIDS, _HALF_NORMS
    global REC_EVERY
    REC_EVERY = (
        REC_EVERY_BASE if n_vectors is None else rec_every_for(n_vectors)
    )
    N_PLANES = (
        N_PLANES_BASE if n_vectors is None else lsh_planes_for(n_vectors)
    )
    HYPERPLANES = _hyperplanes()
    N_CENTROIDS = (
        N_CENTROIDS_BASE
        if n_vectors is None
        else ivf_centroids_for(n_vectors)
    )
    CENTROIDS = _centroids()
    _HALF_NORMS = [round(sum(x * x for x in c) / 2.0, 6) for c in CENTROIDS]
    # lockstep: the materialized oracle dict bakes the plane/centroid
    # literals — regenerate the affected entries
    ORACLES.update(
        {
            "ann_lsh": _ann_lsh_sql(),
            "ann_lsh_multiprobe": _ann_lsh_multiprobe_sql(),
            "ann_ivf": _ann_ivf_sql(),
            "ann_recall_eval": _ann_recall_eval_sql(),
        }
    )
    from .. import plancache

    plancache.clear()
    return N_PLANES, N_CENTROIDS


# --- shared expression builders -------------------------------------------

def _dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) ->"
        f" CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1), i ->"
        f" CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) AS DOUBLE)"
    )


def _plane_literal(plane: list[float], dialect: str) -> str:
    vals = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane)
    return f"array({vals})" if dialect == "spark" else f"[{vals}]"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours of vec 0 by cosine (exact baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    dot = _dot_spark("embedding", "qe")
    na = _dot_spark("embedding", "embedding")
    nq = _dot_spark("qe", "qe")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.expr(f"round({dot} / (sqrt({na}) * sqrt({nq})), 6)").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _cosine_topk_sql() -> str:
    dot = _dot_duck("e.embedding", "q.qe")
    na = _dot_duck("e.embedding", "e.embedding")
    nq = _dot_duck("q.qe", "q.qe")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS cos_sim
FROM embeddings e CROSS JOIN q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# LSH-bucketed approximate nearest neighbour
# ---------------------------------------------------------------------------

def _bucket_expr(vec: str, dialect: str) -> str:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) >= 0."""
    dot = _dot_spark if dialect == "spark" else _dot_duck
    terms = [
        f"(CASE WHEN {dot(vec, _plane_literal(HYPERPLANES[p], dialect))}"
        f" >= CAST(0.0 AS DOUBLE) THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: exact cosine top-k *within the query's LSH bucket*.

    The bucket assignment is a narrow projection; at scale the table is
    written clustered by ``bucket`` so the candidate scan is partition-
    pruned. (Recall is tunable via N_PLANES / multi-probe; this is the
    single-probe variant.)
    """
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_bucket_expr("embedding", "spark"))
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    dot = _dot_spark("embedding", "qe")
    na = _dot_spark("embedding", "embedding")
    nq = _dot_spark("qe", "qe")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select(
            "vec_id",
            "bucket",
            F.expr(f"round({dot} / (sqrt({na}) * sqrt({nq})), 6)").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _ann_lsh_sql() -> str:
    bucket = _bucket_expr("embedding", "duckdb")
    qbucket = _bucket_expr("qe", "duckdb")
    dot = _dot_duck("e.embedding", "q.qe")
    na = _dot_duck("e.embedding", "e.embedding")
    nq = _dot_duck("q.qe", "q.qe")
    return f"""
WITH q AS (SELECT qe, {qbucket} AS qbucket
           FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}))
SELECT vec_id, bucket, cos_sim FROM (
  SELECT e.vec_id, {bucket} AS bucket,
         round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS cos_sim,
         q.qbucket
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {QUERY_VEC_ID}
)
WHERE bucket = qbucket
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of :func:`q_ann_lsh`: scan the query's bucket
    PLUS every Hamming-1 neighbor bucket (one sign bit flipped — the
    buckets a near-neighbor most likely fell into when one hyperplane
    disagreed). N_PLANES+1 of the 2^N_PLANES buckets are probed, so the
    candidate scan grows from ~1/256 to ~9/256 of the data for a large
    recall gain — the standard recall/cost knob (Lv et al. 2007,
    multi-probe LSH) without re-hashing or extra tables. Same
    partition-pruned shape as single-probe: bucket is the cluster key,
    the probe set is a 9-element broadcast array."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(_bucket_expr("embedding", "spark"))
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"),
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(N_PLANES)
            ],
        ).alias("probes"),
    )
    dot = _dot_spark("embedding", "qe")
    na = _dot_spark("embedding", "embedding")
    nq = _dot_spark("qe", "qe")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .filter(F.expr("array_contains(probes, bucket)"))
        .select(
            "vec_id",
            "bucket",
            F.expr(f"round({dot} / (sqrt({na}) * sqrt({nq})), 6)").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _ann_lsh_multiprobe_sql() -> str:
    bucket = _bucket_expr("embedding", "duckdb")
    qbucket = _bucket_expr("qe", "duckdb")
    probes = "[qbucket, " + ", ".join(
        f"xor(qbucket, {1 << p})" for p in range(N_PLANES)
    ) + "]"
    dot = _dot_duck("e.embedding", "q.qe")
    na = _dot_duck("e.embedding", "e.embedding")
    nq = _dot_duck("q.qe", "q.qe")
    return f"""
WITH q0 AS (SELECT qe, {qbucket} AS qbucket
            FROM (SELECT embedding AS qe FROM embeddings
                  WHERE vec_id = {QUERY_VEC_ID})),
q AS (SELECT qe, {probes} AS probes FROM q0)
SELECT vec_id, bucket, cos_sim FROM (
  SELECT e.vec_id, {bucket} AS bucket,
         round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS cos_sim,
         q.probes
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != {QUERY_VEC_ID}
)
WHERE list_contains(probes, bucket)
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF-bucketed approximate nearest neighbour
# ---------------------------------------------------------------------------

N_CENTROIDS_BASE = 8
N_CENTROIDS = N_CENTROIDS_BASE  # current value; see set_ann_scale


def _centroids() -> list[list[float]]:
    """Deterministic stand-in for k-means-trained coarse centroids: at
    scale these come from a training pass over a sample; here they are
    seeded literals shared verbatim with the DuckDB oracle."""
    rng = random.Random(4321)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(DIM)]
        for _ in range(N_CENTROIDS)
    ]


CENTROIDS = _centroids()
# argmin ||v - c||^2 == argmax (v·c − ||c||²/2); the ||c||²/2 terms are
# Python-computed constants folded into the score literals.
_HALF_NORMS = [round(sum(x * x for x in c) / 2.0, 6) for c in CENTROIDS]


def _ivf_scores_expr(vec: str, dialect: str) -> str:
    dot = _dot_spark if dialect == "spark" else _dot_duck
    terms = [
        f"({dot(vec, _plane_literal(CENTROIDS[k], dialect))}"
        f" - CAST({_HALF_NORMS[k]!r} AS DOUBLE))"
        for k in range(N_CENTROIDS)
    ]
    body = ", ".join(terms)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN, IVF variant: assign every vector to its nearest coarse
    centroid (the inverted-file cell), then run exact cosine top-k only
    inside the query vector's cell.

    Scale path: the cell id is a cheap narrow projection computed at
    ingest and used as the table's partition/cluster key, so a query
    scans ~1/K of the data (multi-probe = scan the P best cells). The
    scores array is materialized once per row in its own projection so
    the 8×64-term fold isn't duplicated by argmax — keeps whole-stage
    codegen under the 64 KB method limit.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("scores", F.expr(_ivf_scores_expr("embedding", "spark")))
        .withColumn(
            "cell", F.expr("CAST(array_position(scores, array_max(scores)) AS INT)")
        )
        .drop("scores")
    )
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), F.col("cell").alias("qcell")
    )
    dot = _dot_spark("embedding", "qe")
    na = _dot_spark("embedding", "embedding")
    nq = _dot_spark("qe", "qe")
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .filter(F.col("cell") == F.col("qcell"))
        .select(
            "vec_id",
            "cell",
            F.expr(f"round({dot} / (sqrt({na}) * sqrt({nq})), 6)").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _ann_ivf_sql() -> str:
    scores = _ivf_scores_expr("embedding", "duckdb")
    dot = _dot_duck("e.embedding", "q.qe")
    na = _dot_duck("e.embedding", "e.embedding")
    nq = _dot_duck("q.qe", "q.qe")
    return f"""
WITH cells AS (
  SELECT vec_id, embedding,
         CAST(list_indexof(scores, list_aggregate(scores, 'max')) AS INT) AS cell
  FROM (SELECT vec_id, embedding, {scores} AS scores FROM embeddings)
),
q AS (SELECT embedding AS qe, cell AS qcell FROM cells WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.cell,
       round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS cos_sim
FROM cells e CROSS JOIN q
WHERE e.vec_id != {QUERY_VEC_ID} AND e.cell = q.qcell
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# Product-quantization ANN (IVF-PQ style asymmetric-distance search)
# ---------------------------------------------------------------------------

PQ_SUBS = 8       # subspaces (DIM / PQ_SUB_DIM)
PQ_SUB_DIM = 8    # dims per subspace
# r05 retune, driven by the measured recall curve (README.md's recall
# table; 20k-vector scale corpus): PQ_K 16 -> 256 (8-bit codes,
# the standard PQ codebook size) and PQ_CAND 50 -> 1000 (5% of that
# corpus re-ranked exactly) lift recall@10 from 0.11 to 0.93. The grid:
#   PQ_K=16:  cand 50/200/1000 -> 0.15 / 0.30 / 0.59
#   PQ_K=64:  cand 50/200/1000 -> 0.26 / 0.50 / 0.85
#   PQ_K=256: cand 50/200/1000 -> 0.45 / 0.70 / 0.93
# PQ_CAND is the recall/cost knob and in production tracks a target
# re-rank fraction of N; at small correctness SFs (N <= PQ_CAND) the
# re-rank covers the table and the result degenerates to exact —
# harmless.
PQ_K = 256        # centroids per subspace codebook -> 8-bit codes
PQ_CAND = 1000    # ADC candidates re-ranked exactly


_PQ_BOOKS_CACHE: dict = {}


def _pq_books_int(spark: SparkSession, sf_dir: str) -> list[list[list[int]]]:
    """PQ_SUBS x PQ_K x PQ_SUB_DIM codebooks as integer micro-units,
    TRAINED on a deterministic corpus sample: centroid k of every
    subspace is the corresponding subvector of the k-th-lowest-vec_id
    embedding (the random-sample codebook — the standard k-means init
    and the zero-iteration baseline of real PQ training; gaussian
    literals were tried first and rejected, ~0.2 recall@10 — untrained
    centroids off the data manifold swamp ADC with codebook error).

    This is a bounded driver-side training step — PQ_K rows, the same
    sample-then-broadcast shape production PQ training has — so
    ``q_ann_pq`` carries ``stateful_build`` (the plan cache must re-run
    the builder; the books memo below is keyed by the table stamp, so
    an in-place testdata regeneration retrains instead of serving stale
    centroids). The oracle reproduces the identical codebook relationally
    (ORDER BY vec_id LIMIT K), and micro-unit quantization keeps every
    distance exact int64 in both engines."""
    import math

    from ..schemas import table_stamp

    # PQ_K in the key: the recall tooling sweeps it by module-attribute
    # rebinding, and a stale-K codebook would silently mis-probe the LUT
    key = (sf_dir, table_stamp(f"{sf_dir}/embeddings.parquet"), PQ_K)
    if key not in _PQ_BOOKS_CACHE:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .limit(PQ_K)
            .select("embedding")
            .collect()
        )
        eints = [
            [int(math.floor(float(x) * 1e6 + 0.5)) for x in r.embedding]
            for r in rows
        ]
        # a table smaller than PQ_K trains what exists (k_eff centroids)
        # — the same adaptation the oracle's LIMIT PQ_K applies
        k_eff = len(eints)
        from ..schemas import evict_stale_stamp

        # stale-stamp eviction across EVERY K (ignore_idx=2): other-K
        # entries of the SAME generation stay live for the recall sweep
        evict_stale_stamp(_PQ_BOOKS_CACHE, key, 1, ignore_idx=2)
        _PQ_BOOKS_CACHE[key] = [
            [
                eints[k][s * PQ_SUB_DIM:(s + 1) * PQ_SUB_DIM]
                for k in range(k_eff)
            ]
            for s in range(PQ_SUBS)
        ]
    return _PQ_BOOKS_CACHE[key]


def _pq_codes_udf(books_int: list[list[list[int]]]):
    """Vectorized PQ encoder: embedding -> PQ_SUBS 4-bit codes
    (argmin squared distance to each subspace codebook, first-match
    tie-break — np.argmin and DuckDB list_indexof(min) agree).

    Same engineering as dedup's ``_emb_codes_udf``: micro-unit integer
    quantization makes the distances exact int64, so codes are
    bit-identical across engines by construction, and the Arrow batch
    does all PQ_SUBS x PQ_K x PQ_SUB_DIM work in numpy instead of
    interpreted HOF folds.

    The distance uses the expanded form ``||x||^2 - 2 x.c + ||c||^2``
    (exact in int64, identical argmin values to the direct
    ``((x-c)**2).sum()`` broadcast — same overflow envelope, proven
    bit-equal) because the direct broadcast materializes an
    n x S x K x D intermediate: ~132 KB of fresh int64 per ROW per
    batch. That allocation churn is pure waste at 100 TB, and on this
    bench box it was the measured root cause of the entry's 1.5s <-> 9s
    sweep oscillation — a fresh worker's first big allocation pays a
    bursty first-touch fault storm against the VM's memory backend
    (host steal + guest system time, not user CPU; evidence in
    README r14). The expanded form's
    intermediates are n x S x K — D(=8)x smaller — and warm encode is
    ~10x faster."""
    import numpy as np
    import pandas as pd

    books = np.array(books_int, dtype=np.int64)  # S x K x D
    c2 = (books * books).sum(-1)  # S x K

    def codes(emb):
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(v, dtype=np.float64) for v in emb])
        eint = np.floor(m * 1e6 + 0.5).astype(np.int64)
        x = eint.reshape(len(eint), PQ_SUBS, PQ_SUB_DIM)  # n x S x D
        x2 = (x * x).sum(-1)  # n x S
        xc = np.einsum("nsd,skd->nsk", x, books)  # exact int64 matmul
        d2 = x2[:, :, None] - 2 * xc + c2[None, :, :]  # n x S x K
        return pd.Series(d2.argmin(axis=-1).astype(np.int32).tolist())

    codes.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return F.pandas_udf("array<int>")(codes)


#: (sf_dir, embeddings stamp, PQ_K) -> materialized (vec_id, codes) dir
_PQ_CODES_CACHE: dict = {}


def pq_codes_path(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-time PQ encode: materialize the ``(vec_id, codes)`` sidecar
    ONCE per (sf_dir, embeddings stamp) and serve every query's ADC scan
    from it. This is what makes PQ pay at 100 TB: the expensive part —
    the Arrow-batched encode of every full-precision vector — happens
    once when vectors land (here: first use per table stamp; in a real
    deployment: the ingest job), and each of the millions of subsequent
    queries scans 8 small ints per vector instead of re-encoding the
    table and dragging the fat ``embedding`` column through the
    candidate stage. Stamp-keyed like the normalized-events
    materialization, so an in-place regeneration of the embeddings table
    re-encodes (with freshly re-trained codebooks) instead of serving
    stale codes."""
    import os

    from ..schemas import scratch_dir, table_stamp

    key = (sf_dir, table_stamp(f"{sf_dir}/embeddings.parquet"), PQ_K)
    path = _PQ_CODES_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    out = scratch_dir("pq_codes_")
    emb = load_table(spark, sf_dir, "embeddings")
    books_int = _pq_books_int(spark, sf_dir)
    emb.select(
        "vec_id",
        _pq_codes_udf(books_int)(F.col("embedding")).alias("codes"),
    ).write.mode("overwrite").parquet(out)
    # a re-encoded table's previous sidecar (older stamp) is dead weight
    # on tmpfs — delete the directory with its cache entry
    from ..schemas import evict_stale_stamp

    evict_stale_stamp(_PQ_CODES_CACHE, key, 1, remove_dirs=True, ignore_idx=2)
    _PQ_CODES_CACHE[key] = out
    return out


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization: vectors are stored as PQ_SUBS
    8-bit codes (64 float32 dims -> 8 bytes — the 32x memory/bandwidth
    compression that makes billion-vector search feasible); the query
    scans CODES ONLY with the asymmetric distance (exact int64 squared
    distance from each query subvector to the coded centroid), takes
    the PQ_CAND best, and re-ranks just those exactly by cosine.
    Measured recall@10 = 0.93 at the default knobs on the 20k-vector
    scale corpus (README.md's recall table; grid at the constants above).

    Scale shape: codes ARE computed once at ingest — the stamp-keyed
    ``(vec_id, codes)`` sidecar (:func:`pq_codes_path`) — so the ADC
    candidate stage scans a 2-column codes relation (8 small ints per
    vector + a broadcast query row); the full-precision ``embedding``
    column is read only by the PQ_CAND-row broadcast join that re-ranks
    the candidates exactly. Codebooks are trained on a bounded
    deterministic sample (:func:`_pq_books_int`) and both the code
    assignment and the ADC are exact integer arithmetic mirrored by the
    oracle, so the result is deterministic, not best-effort."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    coded = spark.read.parquet(pq_codes_path(spark, sf_dir))
    books_int = _pq_books_int(spark, sf_dir)  # memoized per stamp
    k_eff = len(books_int[0])  # < PQ_K when the table is that small
    # The classic per-query ADC LOOKUP TABLE: dist[s][k] = exact int64
    # ||q_sub_s - book[s][k]||^2, computed ONCE per query driver-side
    # (PQ_SUBS x PQ_K = 2,048 integer distances from the 1-row query
    # collect — the same bounded-collect class as the codebook sample,
    # covered by stateful_build) and shipped as a one-row broadcast DATA
    # array. Shipping it as data matters: the earlier form inlined the
    # S x K x D codebook as a nested expression LITERAL, and at
    # PQ_K=256 that 16k-node tree cost ~10 s of per-run analysis;
    # the LUT plan is constant-size in PQ_K (measured back to ~1 s).
    qrows = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .collect()
    )
    if qrows:
        q_int = [
            int(math.floor(float(x) * 1e6 + 0.5)) for x in qrows[0].embedding
        ]
        lut = [
            sum(
                (q_int[s * PQ_SUB_DIM + d] - books_int[s][k][d]) ** 2
                for d in range(PQ_SUB_DIM)
            )
            for s in range(PQ_SUBS)
            for k in range(k_eff)
        ]
        # qe rebuilt from the same collect — not a second table scan
        qv = spark.createDataFrame(
            [(qrows[0].embedding,)], "qe array<float>"
        )
    else:  # query vector absent: empty result via the empty qe crossJoin
        lut = [0] * (PQ_SUBS * k_eff)
        qv = spark.createDataFrame([], "qe array<float>")
    lut_df = spark.createDataFrame([(lut,)], "adc_lut array<bigint>")
    # ADC per row: 8 LUT probes keyed by the stored codes, all int64.
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_SUBS - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.col("adc_lut"),
            (
                s * k_eff
                + F.element_at(F.col("codes"), (s + 1).cast("int"))
                + 1
            ).cast("int"),
        ),
    )
    # Candidate stage: 2-col codes relation x broadcast 1-row LUT —
    # no full-precision vectors anywhere in this TakeOrdered.
    cand = (
        coded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(lut_df))
        .select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(PQ_CAND)
    )
    # Exact re-rank: the PQ_CAND-row candidate list broadcasts against a
    # column-pruned (vec_id, embedding) scan — the only point the fat
    # vector column is read, and only PQ_CAND rows survive the join.
    dot = _dot_spark("embedding", "qe")
    na = _dot_spark("embedding", "embedding")
    nq = _dot_spark("qe", "qe")
    return (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qv.select("qe")))
        .select(
            "vec_id",
            "adc_dist",
            F.expr(f"round({dot} / (sqrt({na}) * sqrt({nq})), 6)").alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# Collects the PQ_K-row training sample and materializes the codes
# sidecar during plan construction — the plan cache must re-run the
# builder per call (plancache.py).
q_ann_pq.stateful_build = True


def pq_codes_cte_sql() -> str:
    """The eint + books_cte + coded CTE prefix — DuckDB computing the
    identical quantization, codebook (k-lowest-vec_id sample), and code
    assignment the Spark builders produce. Shared by the ann_pq oracle
    and the streaming-ingest oracle (streaming/jobs.py) so the two
    cannot drift."""
    # bk = the K seed vectors' quantized components in vec_id order;
    # centroid k of subspace s is bk[k][s*SD + 1 .. s*SD + SD] — the
    # identical codebook the Spark builder collects.
    sub_d2 = (
        "list_sum(list_transform(range(1, {sd} + 1), d -> "
        "(ei[s * {sd} + d] - bk[k][s * {sd} + d])"
        " * (ei[s * {sd} + d] - bk[k][s * {sd} + d])))"
    ).format(sd=PQ_SUB_DIM)
    dists = f"list_transform(range(1, {PQ_K} + 1), k -> {sub_d2})"
    code_s = (
        f"list_indexof({dists}, list_aggregate({dists}, 'min')) - 1"
    )
    codes = f"list_transform(range(0, {PQ_SUBS}), s -> {code_s})"
    return f"""eint AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
           * 1000000.0 + 0.5) AS BIGINT)) AS ei
  FROM embeddings),
books_cte AS (
  SELECT list(ei ORDER BY vec_id) AS bk
  FROM (SELECT vec_id, ei FROM eint ORDER BY vec_id LIMIT {PQ_K})),
coded AS (
  SELECT vec_id, embedding, {codes} AS codes
  FROM eint CROSS JOIN books_cte)"""


def _ann_pq_sql() -> str:
    adc_sub = (
        "list_sum(list_transform(range(1, {sd} + 1), d -> "
        "(qi[s * {sd} + d] - bk[codes[s + 1] + 1][s * {sd} + d])"
        " * (qi[s * {sd} + d] - bk[codes[s + 1] + 1][s * {sd} + d])))"
    ).format(sd=PQ_SUB_DIM)
    adc = (
        f"CAST(list_sum(list_transform(range(0, {PQ_SUBS}), s -> {adc_sub}))"
        " AS BIGINT)"
    )
    dot = _dot_duck("c.embedding", "q.qe")
    na = _dot_duck("c.embedding", "c.embedding")
    nq = _dot_duck("q.qe", "q.qe")
    return f"""
WITH {pq_codes_cte_sql()},
q AS (
  SELECT embedding AS qe, ei AS qi FROM eint WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT c.vec_id, c.embedding, {adc} AS adc_dist
  FROM coded c CROSS JOIN q CROSS JOIN books_cte
  WHERE c.vec_id != {QUERY_VEC_ID}
  ORDER BY adc_dist ASC, c.vec_id ASC
  LIMIT {PQ_CAND})
SELECT vec_id, adc_dist,
       round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS cos_sim
FROM cand c CROSS JOIN q
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-op smoke surface: L2 norm + dimension per vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    na = _dot_spark("embedding", "embedding")
    return emb.select(
        "vec_id",
        "label",
        F.expr("size(embedding)").alias("dim"),
        F.expr(f"round(sqrt({na}), 6)").alias("l2_norm"),
    )


def _embedding_norms_sql() -> str:
    na = _dot_duck("embedding", "embedding")
    return f"""
SELECT vec_id, label, len(embedding) AS dim, round(sqrt({na}), 6) AS l2_norm
FROM embeddings
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (the 4x storage/bandwidth
    reduction step before writing an embedding corpus): scale = max|x|,
    q_i = round(x_i * 127 / scale). Pure array expressions — narrow, zero
    shuffles, whole-stage codegen; float32 inputs promote exactly to
    double so both engines compute bit-identical codes. Explicit
    floor(+0.5) rounding (not round()) keeps negative-value behaviour
    engine-portable, same as the cents discipline. The code vector is
    emitted as a '|'-joined string: array-typed output is unhashable by
    the driver's canonicalizer (and the string is the canonical lossless
    wire form — same rule as priority_lists)."""
    emb = load_table(spark, sf_dir, "embeddings")
    amax = (
        "aggregate(embedding, CAST(0.0 AS DOUBLE),"
        " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
    )
    q = (
        "transform(embedding, x -> CASE WHEN amax = CAST(0.0 AS DOUBLE)"
        " THEN CAST(0 AS BIGINT)"
        " ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT)"
        " END)"
    )
    return (
        emb.select("vec_id", "embedding", F.expr(amax).alias("amax"))
        .select(
            "vec_id",
            F.expr("round(amax, 6)").alias("max_abs"),
            F.expr(f"concat_ws('|', {q})").alias("qvec"),
        )
    )


def _embedding_quantize_sql() -> str:
    return """
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
  FROM embeddings
)
SELECT vec_id, round(amax, 6) AS max_abs,
       array_to_string(list_transform(embedding,
         x -> CASE WHEN amax = CAST(0.0 AS DOUBLE) THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5)
                             AS BIGINT) END), '|') AS qvec
FROM m
"""


KNN_EVERY = 50  # every 50th vector is an eval query
KNN_K = 5       # neighbours voting per query


def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality EVALUATION as a first-class query: exact-kNN
    label accuracy over the ``embeddings`` table's labels. Every
    KNN_EVERY-th vector is a held-out query; its KNN_K nearest
    neighbours (itself excluded) vote by majority (ties -> the
    lexicographically first label), and per TRUE label we report query
    count, correct count, and exact accuracy in ppm. This is the
    standard harness for judging an embedding space / ANN index
    (ann_recall_eval measures the INDEX against exact kNN; this
    measures the SPACE against labels).

    Determinism + scale: vectors quantized to exact-integer millionths
    (semantic._quant_expr — L2-normalized, so the BIGINT dot product
    ranks identically to cosine with no float division anywhere); the
    eval set (|N|/KNN_EVERY rows) is PERSISTED before broadcasting, so
    its derivation scan runs once and the probe side's corpus scan is
    the only per-execution pass over embeddings (without the persist
    the broadcast build re-executed the filtered scan — the exact r05
    mistake retrieval.py documents; review finding r06). The
    brute-force probe IS the eval shape (eval sets are small by
    construction); production reuses the ann_pq/ann_ivf candidate path
    for the same vote."""
    from pyspark.sql import Window

    from .semantic import _doti, _quant_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_quant_expr("embedding", "spark")).alias("vq")
    )
    q = (
        emb.filter(F.col("vec_id") % KNN_EVERY == 0)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("vq").alias("qv"),
        )
    )
    from ..schemas import persist_latest

    q = persist_latest(q, "knn_eval")
    pairs = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("qid")
    )
    scored = pairs.select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        F.expr(_doti("vq", "qv", "spark")).alias("dot"),
    )
    rn = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("vec_id"))
    )
    topk = scored.withColumn("rk", rn).filter(F.col("rk") <= KNN_K)
    votes = topk.groupBy("qid", "qlabel", "label").agg(
        F.count("*").alias("votes")
    )
    wv = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    )
    pred = votes.withColumn("wr", wv).filter(F.col("wr") == 1)
    return (
        pred.groupBy("qlabel")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("label") == F.col("qlabel"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_correct"),
        )
        .select(
            F.col("qlabel").alias("label"),
            "n_queries",
            "n_correct",
            F.expr(
                "n_correct * CAST(1000000 AS BIGINT) DIV n_queries"
            ).alias("acc_ppm"),
        )
    )


# Persists the eval dimension during plan build (plancache contract).
q_knn_label_accuracy.stateful_build = True


def _knn_label_accuracy_sql() -> str:
    from .semantic import _doti, _quant_expr

    d = "duckdb"
    return f"""
WITH e AS (SELECT vec_id, label, {_quant_expr("embedding", d)} AS vq
           FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, vq AS qv FROM e
      WHERE vec_id % {KNN_EVERY} = 0),
scored AS (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
         {_doti("e.vq", "q.qv", d)} AS dot
  FROM e CROSS JOIN q WHERE e.vec_id != q.qid),
topk AS (
  SELECT * FROM (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dot DESC, vec_id ASC) AS rk
    FROM scored) WHERE rk <= {KNN_K}),
votes AS (SELECT qid, qlabel, label, count(*) AS votes
          FROM topk GROUP BY qid, qlabel, label),
pred AS (
  SELECT * FROM (
    SELECT qid, qlabel, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY votes DESC, label ASC) AS wr
    FROM votes) WHERE wr = 1)
SELECT qlabel AS label, count(*) AS n_queries,
       CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // count(*) AS acc_ppm
FROM pred GROUP BY qlabel
"""


REC_EVERY_BASE = 50  # eval-query sampling rate at the reference corpus
REC_EVERY = REC_EVERY_BASE  # current value; see set_ann_scale
REC_K = 10      # top-k compared between exact and LSH legs
# Eval-set size the BASE rate yields at ANN_N_REF — held ~CONSTANT as N
# grows (ADVICE r07: a fixed sampling RATE made the scored pair relation
# |N|^2/REC_EVERY — quadratic; a fixed eval COUNT keeps it linear,
# matching knn_label_accuracy's bounded-eval-set discipline).
REC_QUERIES = 40


def rec_every_for(n_vectors: int) -> int:
    """Sampling stride that keeps the recall eval set at ~REC_QUERIES
    queries regardless of corpus size (integer arithmetic, both engines
    see the same value)."""
    return max(REC_EVERY_BASE, max(1, n_vectors) // REC_QUERIES)


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-index recall as a first-class query: per eval vector, how
    many of the exact top-REC_K nearest neighbours the single-probe
    LSH bucket path returns — recall@K of the INDEX against exact kNN
    (knn_label_accuracy judges the SPACE against labels; this judges
    the index against the space). Output per query:
    candidate-bucket size, the two top-k overlaps, exact-ppm recall.

    Determinism + scale: one corpus scan derives quantized vectors
    (exact-BIGINT dots rank identically to cosine) AND the LSH bucket;
    the eval dimension (|N|/REC_EVERY rows) is persisted then
    broadcast — the same eval-harness shape as knn_label_accuracy.
    Both legs rank over the SAME scored pair relation (the LSH leg is
    a filter on it, never a second scan); the per-query windows run
    over the broadcast-joined pair rows — the accepted eval-set
    discipline (eval sets are small by construction)."""
    from pyspark.sql import Window

    from ..schemas import persist_latest
    from .semantic import _doti, _quant_expr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(_quant_expr("embedding", "spark")).alias("vq"),
        F.expr(_bucket_expr("embedding", "spark")).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") % REC_EVERY == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("vq").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    q = persist_latest(q, "ann_recall_eval")
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qbucket",
            "vec_id",
            "bucket",
            F.expr(_doti("vq", "qv", "spark")).alias("dot"),
        )
    )
    order = [F.desc("dot"), F.asc("vec_id")]
    exact = pairs.withColumn(
        "rk", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
    ).filter(F.col("rk") <= REC_K)
    in_bucket = pairs.filter(F.col("bucket") == F.col("qbucket"))
    lsh = in_bucket.withColumn(
        "rk", F.row_number().over(Window.partitionBy("qid").orderBy(*order))
    ).filter(F.col("rk") <= REC_K)
    bucket_sz = in_bucket.groupBy("qid").agg(
        F.count("*").alias("bucket_candidates")
    )
    overlap = (
        exact.select("qid", "vec_id")
        .join(lsh.select("qid", "vec_id"), ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("overlap"))
    )
    return (
        exact.groupBy("qid")
        .agg(F.count("*").alias("n_exact"))
        .join(bucket_sz, "qid", "left")
        .join(overlap, "qid", "left")
        .select(
            "qid",
            "n_exact",
            F.coalesce("bucket_candidates", F.lit(0)).alias(
                "bucket_candidates"
            ),
            F.coalesce("overlap", F.lit(0)).alias("overlap"),
            F.expr(
                f"coalesce(overlap, 0) * CAST(1000000 AS BIGINT)"
                f" DIV {REC_K}"
            ).alias("recall_ppm"),
        )
    )


# Persists the eval dimension during plan build (plancache contract).
q_ann_recall_eval.stateful_build = True


def _ann_recall_eval_sql() -> str:
    from .semantic import _doti, _quant_expr

    d = "duckdb"
    return f"""
WITH e AS (SELECT vec_id, {_quant_expr("embedding", d)} AS vq,
                  {_bucket_expr("embedding", d)} AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS qid, vq AS qv, bucket AS qbucket FROM e
      WHERE vec_id % {REC_EVERY} = 0),
pairs AS (
  SELECT q.qid, q.qbucket, e.vec_id, e.bucket,
         {_doti("e.vq", "q.qv", d)} AS dot
  FROM e CROSS JOIN q WHERE e.vec_id != q.qid),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dot DESC, vec_id ASC) AS rk
    FROM pairs) WHERE rk <= {REC_K}),
in_bucket AS (SELECT * FROM pairs WHERE bucket = qbucket),
lsh AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dot DESC, vec_id ASC) AS rk
    FROM in_bucket) WHERE rk <= {REC_K}),
bsz AS (SELECT qid, CAST(count(*) AS BIGINT) AS bucket_candidates
        FROM in_bucket GROUP BY qid),
ov AS (SELECT exact.qid, CAST(count(*) AS BIGINT) AS overlap
       FROM exact JOIN lsh ON exact.qid = lsh.qid
                          AND exact.vec_id = lsh.vec_id
       GROUP BY exact.qid)
SELECT ex.qid, ex.n_exact,
       coalesce(bucket_candidates, 0) AS bucket_candidates,
       coalesce(overlap, 0) AS overlap,
       coalesce(overlap, 0) * 1000000 // {REC_K} AS recall_ppm
FROM (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
      FROM exact GROUP BY qid) ex
LEFT JOIN bsz ON ex.qid = bsz.qid
LEFT JOIN ov ON ex.qid = ov.qid
"""


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "knn_label_accuracy": q_knn_label_accuracy,
    "ann_recall_eval": q_ann_recall_eval,
    "ann_lsh": q_ann_lsh,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "ann_ivf": q_ann_ivf,
    "ann_pq": q_ann_pq,
    "embedding_norms": q_embedding_norms,
    "embedding_quantize": q_embedding_quantize,
}

ORACLES = {
    "cosine_topk": _cosine_topk_sql(),
    "knn_label_accuracy": _knn_label_accuracy_sql(),
    "ann_recall_eval": _ann_recall_eval_sql(),
    "ann_lsh": _ann_lsh_sql(),
    "ann_lsh_multiprobe": _ann_lsh_multiprobe_sql(),
    "ann_ivf": _ann_ivf_sql(),
    "ann_pq": _ann_pq_sql(),
    "embedding_norms": _embedding_norms_sql(),
    "embedding_quantize": _embedding_quantize_sql(),
}
