"""Data-selection operators for training-corpus curation:
hashed-n-gram importance resampling (DSIR-style), bigram-LM document
scoring (perplexity-filter plumbing), and a train/test split-leakage
audit.

These implement public recipes — importance resampling per Xie et al.
2023 ("Data Selection for Language Models via Importance Resampling",
hashed-feature variant), LM-likelihood quality filtering per the
CCNet/KenLM practice (Wenzek et al. 2020), and the shingle-overlap
decontamination audit — as Spark-first declarative plans over the same
``documents`` table as the rest of the LLM-pipeline family. The
reference engine has no counterpart (its queries are the two taxi
windows, flink-taxi-stream-processor/.../ProcessTaxiStream.java:96-136).

Determinism discipline (shared with bm25/mixture_weights): every
transcendental (ln) is evaluated on an argument built from EXACT
integer counts via exact double casts — both engines see the identical
double — and is quantized to integer micro-units via floor(x*1e6+0.5)
BEFORE any cross-row summation, so scores accumulate as exact BIGINTs
and rankings/cutoffs cannot depend on float fold order. Since r09 the
ln itself is the DETERMINISTIC expression tree of functions/detmath.py
(exact range reduction + atanh series in correctly rounded + - * /), so
cross-engine bit identity holds BY CONSTRUCTION — the r08 fuzz-gate
counterexample (engine libms disagreeing by 1 ulp exactly on a floor
boundary) is structurally impossible, and is pinned as a regression
@example in tests/test_properties.py.

Scale posture:
  - importance_resampling: the feature table is FEAT_BUCKETS rows
    (broadcast); word->bucket hashing is narrow at the scan; the only
    wide exchange carries (doc_id, bigint) for the map-combinable
    per-doc sum. Document text never crosses a shuffle.
  - lm_perplexity: the LM table is O(|vocab|^2) aggregated rows keyed
    by the 128-bit gram hash; doc scoring joins (doc_id, gram-hash)
    against it — token text stays out of the exchanges; the per-doc
    sum is map-combinable.
  - split_leakage: both split sides are large, so this is the
    SHUFFLE-join regime (unlike decontaminate's broadcast-probe):
    each side hash-partitions on the 128-bit shingle hash and the
    exchange carries (hash, doc_id) pairs only.
  - source_drift: ``drift_cells`` is the bounded (source, bucket) state
    of both the batch entry and its streaming twin
    (streaming/jobs.q_source_drift_streaming); ``drift_report`` is the
    KL finisher both read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detmath import apply_stages, ln_det_stages, stages_sql
from ..functions.portable import words_expr
from ..schemas import load_table, spread
from .contamination import _shingles
from .sampling import TRAIN_GATE_HEX

FEAT_BUCKETS = 256       # hashed n-gram feature space (2 md5 hex chars)
DSIR_TARGETS = ("src0", "src1")  # the "target domain" sources
DSIR_K = 50              # docs resampled from the pool

LM_SCORE_MOD = 4         # doc subset reported by lm_perplexity (bounds output)


# ---------------------------------------------------------------------------
# Shared ln-quantization expressions, STAGED. ONE list of (column, expr)
# stages serves both engines (Spark: chained withColumn projections;
# DuckDB oracle: nested SELECTs via detmath.stages_sql), so the plan and
# the oracle cannot drift — and tests/test_properties.py fuzzes each of
# these cross-engine over random integer inputs, the same bit-identity
# regime as the PQ/embedding codes. Since r09 the ln inside is
# detmath.ln_det_stages — a fixed expression tree of correctly rounded
# + - * / only — so the identity is by construction, not a libm
# assumption (the r08 judge-minimized counterexample is the pinned
# regression @example).
# ---------------------------------------------------------------------------

def lam_q_stages() -> list[tuple[str, str]]:
    """DSIR per-bucket log-ratio, micro-unit quantized into ``lam_q``.
    Base columns: tc, sc, s_tot, t_tot (exact BIGINT counts)."""
    x = (
        "(CAST(tc + 1 AS DOUBLE)"
        f" * CAST(s_tot + {FEAT_BUCKETS} AS DOUBLE))"
        " / (CAST(sc + 1 AS DOUBLE)"
        f" * CAST(t_tot + {FEAT_BUCKETS} AS DOUBLE))"
    )
    return [
        ("lam_x", x),
        *ln_det_stages("lam_x", "lam"),
        ("lam_q", "CAST(floor(lam_ln * 1000000.0e0 + 0.5e0) AS BIGINT)"),
    ]


def kl_q_stages() -> list[tuple[str, str]]:
    """Per-bucket KL term p*ln(p/q), nano-unit quantized into ``kl_q``.
    Base columns: c_sb, n_s, c_b, n_tot (exact BIGINT counts)."""
    B = FEAT_BUCKETS
    x = (
        f"(CAST(c_sb + 1 AS DOUBLE) * CAST(n_tot + {B} AS DOUBLE))"
        f" / (CAST(n_s + {B} AS DOUBLE) * CAST(c_b + 1 AS DOUBLE))"
    )
    p = f"(CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + {B} AS DOUBLE))"
    return [
        ("kl_x", x),
        *ln_det_stages("kl_x", "kl"),
        (
            "kl_q",
            f"CAST(floor(({p} * kl_ln) * 1000000000.0e0 + 0.5e0)"
            " AS BIGINT)",
        ),
    ]


def nll_q_stages() -> list[tuple[str, str]]:
    """Bigram-LM negative log-likelihood, micro-unit quantized into
    ``nll_q``. Base columns: c1, c2, v (exact BIGINT counts)."""
    return [
        ("nll_x", "CAST(c1 + v AS DOUBLE) / CAST(c2 + 1 AS DOUBLE)"),
        *ln_det_stages("nll_x", "nll"),
        ("nll_q", "CAST(floor(nll_ln * 1000000.0e0 + 0.5e0) AS BIGINT)"),
    ]


# ---------------------------------------------------------------------------
# Importance resampling (DSIR-lite): score pool docs by how target-like
# their hashed word distribution is.
# ---------------------------------------------------------------------------

def q_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``DSIR_K`` pool documents by hashed-unigram importance weight
    log p_target(doc) - log p_raw(doc) = sum over words of
    lambda(bucket(word)), with add-1-smoothed bucket distributions
    estimated from the target sources vs the whole corpus.

    lambda_b = ln( ((tc_b+1)/(T+B)) / ((sc_b+1)/(S+B)) ), quantized to
    micro-units per bucket; a doc's weight is the exact BIGINT sum over
    its word occurrences. Ranking is (weight desc, doc_id) so the
    cutoff is tie-robust."""
    docs = load_table(spark, sf_dir, "documents")
    base = spread(
        docs.select("doc_id", "source", "text"),
        src_path=f"{sf_dir}/documents.parquet",
    )
    wb = base.select(
        "doc_id",
        "source",
        F.explode(F.expr(words_expr("text", "spark"))).alias("w"),
    ).select("doc_id", "source", F.substring(F.md5("w"), 1, 2).alias("b"))
    is_target = F.col("source").isin(*DSIR_TARGETS)
    counts = wb.groupBy("b").agg(
        F.count("*").alias("sc"),
        F.sum(F.when(is_target, 1).otherwise(0)).alias("tc"),
    )
    tot = counts.agg(
        F.sum("sc").alias("s_tot"), F.sum("tc").alias("t_tot")
    )
    lam = apply_stages(
        counts.crossJoin(F.broadcast(tot)), lam_q_stages()
    ).select("b", "lam_q")
    return (
        wb.filter(~is_target)
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("lam_q").alias("weight_micro"),
        )
        .orderBy(F.desc("weight_micro"), F.asc("doc_id"))
        .limit(DSIR_K)
    )


def _importance_resampling_sql() -> str:
    w = words_expr("text", "duckdb")
    tgt = ", ".join(f"'{s}'" for s in DSIR_TARGETS)
    return f"""
WITH wb AS (
  SELECT doc_id, source, substr(md5(w), 1, 2) AS b
  FROM (SELECT doc_id, source, unnest({w}) AS w FROM documents)),
counts AS (
  SELECT b, count(*) AS sc,
         CAST(sum(CASE WHEN source IN ({tgt}) THEN 1 ELSE 0 END) AS BIGINT)
           AS tc
  FROM wb GROUP BY b),
tot AS (SELECT CAST(sum(sc) AS BIGINT) AS s_tot,
               CAST(sum(tc) AS BIGINT) AS t_tot FROM counts),
lam AS (
  SELECT b, lam_q
  FROM ({stages_sql("SELECT * FROM counts CROSS JOIN tot", lam_q_stages())}))
SELECT doc_id, count(*) AS n_words,
       CAST(sum(lam_q) AS BIGINT) AS weight_micro
FROM wb JOIN lam USING (b)
WHERE source NOT IN ({tgt})
GROUP BY doc_id
ORDER BY weight_micro DESC, doc_id ASC
LIMIT {DSIR_K}
"""


# ---------------------------------------------------------------------------
# Per-source distribution drift (KL divergence vs the corpus)
# ---------------------------------------------------------------------------

def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source || corpus) over the hashed-unigram feature space — the
    monitoring signal a corpus pipeline watches per ingest source/shard:
    a source whose token distribution drifts from the corpus (format
    change, spam burst, wrong language) spikes its divergence.

    Same feature space as importance_resampling (md5 buckets, add-1
    smoothing); the per-bucket term p_b * ln(p_b/q_b) is computed on
    exact-integer-derived doubles and quantized to NANO-units (terms are
    O(1e-3)) before the cross-bucket sum, so totals are exact BIGINTs.
    Shape: two map-combinable aggregates to O(sources x buckets) and
    O(buckets) rows, a broadcast join between them, and a final
    |sources|-row aggregate — nothing scales with corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    base = spread(
        docs.select("source", "text"), src_path=f"{sf_dir}/documents.parquet"
    )
    # ONE corpus scan: per_src is the bounded (sources x 256)-row base
    # every downstream relation derives from; checkpoint it so the four
    # consumers (src totals, corpus bucket counts, grand total, grid
    # join) don't each re-run the tokenize+md5 scan — measured 4
    # FileScans -> 1 (the same working-set pattern as semantic_dedup's
    # quantized vectors). EAGER: a lazy checkpoint is computed by the
    # report's concurrent AQE stage jobs, the first to finish cuts the
    # lineage, the driver GCs the aggregate's SQL metrics, and the
    # others' tasks then report to accumulators that no longer exist
    # (an ERROR burst per task, `non-existent accumulator`).
    return drift_report(drift_cells(base).localCheckpoint(eager=True))


def drift_cells(docs: DataFrame) -> DataFrame:
    """Per-(source, md5-bucket) token counts ``c_sb`` over any documents
    frame, batch or stream — the state the drift monitor keeps. It is
    bounded at |sources| x FEAT_BUCKETS rows no matter how much corpus
    flows through, and text never crosses the exchange (each partition
    ships partially combined counts)."""
    wb = docs.select(
        "source", F.explode(F.expr(words_expr("text", "spark"))).alias("w")
    ).select("source", F.substring(F.md5("w"), 1, 2).alias("b"))
    return wb.groupBy("source", "b").agg(F.count("*").alias("c_sb"))


def drift_report(per_src: DataFrame) -> DataFrame:
    """The KL finisher over the bounded ``drift_cells`` relation —
    shared by the batch operator (checkpointed corpus aggregate) and the
    streaming twin (the complete-mode merged snapshot, streaming/jobs.py),
    so both walk the identical exact-integer KL arithmetic."""
    spark = per_src.sparkSession
    src_tot = per_src.groupBy("source").agg(F.sum("c_sb").alias("n_s"))
    corpus = per_src.groupBy("b").agg(F.sum("c_sb").alias("c_b"))
    corpus_tot = corpus.agg(F.sum("c_b").alias("n_tot"))
    # KL is only a true (>= 0) divergence over the COMPLETE bucket
    # domain — summing observed buckets only truncates the negative
    # tail. Materialize all FEAT_BUCKETS buckets per source (bounded:
    # |sources| x 256 rows) with zero counts where absent.
    buckets = spark.range(FEAT_BUCKETS).select(
        F.format_string("%02x", F.col("id").cast("int")).alias("b")
    )
    grid = src_tot.crossJoin(F.broadcast(buckets))
    joined = (
        grid.join(per_src, ["source", "b"], "left")
        .join(F.broadcast(corpus), "b", "left")
        .fillna(0, subset=["c_sb", "c_b"])
        .crossJoin(F.broadcast(corpus_tot))
    )
    return (
        apply_stages(joined, kl_q_stages())
        .select("source", "n_s", F.col("kl_q").alias("t_nano"))
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.sum("t_nano").alias("kl_nano"),
        )
        .select(
            "source",
            "n_tokens",
            "kl_nano",
            F.expr("round(CAST(kl_nano AS DOUBLE) / 1000000000.0, 6)").alias(
                "kl"
            ),
        )
    )


# Checkpoints the per_src working set during plan construction — the
# plan cache must re-run the builder per call (plancache.py).
q_source_drift.stateful_build = True


def _source_drift_sql() -> str:
    w = words_expr("text", "duckdb")
    B = FEAT_BUCKETS
    return f"""
WITH wb AS (
  SELECT source, substr(md5(w), 1, 2) AS b
  FROM (SELECT source, unnest({w}) AS w FROM documents)),
per_src AS (SELECT source, b, count(*) AS c_sb FROM wb GROUP BY source, b),
src_tot AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s
            FROM per_src GROUP BY source),
corpus AS (SELECT b, CAST(sum(c_sb) AS BIGINT) AS c_b
           FROM per_src GROUP BY b),
corpus_tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n_tot FROM corpus),
buckets AS (SELECT printf('%02x', CAST(i AS INT)) AS b
            FROM range(0, {B}) r(i)),
grid AS (
  SELECT source, n_s, b,
         coalesce(c_sb, 0) AS c_sb, coalesce(c_b, 0) AS c_b
  FROM src_tot CROSS JOIN buckets
  LEFT JOIN per_src USING (source, b)
  LEFT JOIN corpus USING (b)),
terms AS (
  SELECT source, n_s, kl_q AS t_nano
  FROM ({stages_sql("SELECT * FROM grid CROSS JOIN corpus_tot",
                    kl_q_stages())}))
SELECT source, min(n_s) AS n_tokens,
       CAST(sum(t_nano) AS BIGINT) AS kl_nano,
       round(CAST(sum(t_nano) AS DOUBLE) / 1000000000.0, 6) AS kl
FROM terms GROUP BY source
"""


# ---------------------------------------------------------------------------
# Bigram-LM document scoring (perplexity-filter plumbing)
# ---------------------------------------------------------------------------

def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM negative log likelihood under an
    add-1-smoothed LM trained on the corpus itself — the quality signal
    perplexity filters threshold on (low per-token NLL = fluent under
    the corpus distribution, high = outlier/noise).

    P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V); per-bigram
    -ln P = ln((c1 + V) / (c2 + 1)) is quantized to micro-units at the
    V^2-bounded LM relation, then summed exactly per doc. The LM table
    is keyed by the gram's md5 so doc scoring joins on 128-bit hashes —
    token text never crosses the scoring exchange."""
    docs = load_table(spark, sf_dir, "documents")
    base = spread(
        docs.select("doc_id", "text"), src_path=f"{sf_dir}/documents.parquet"
    ).select(
        "doc_id", F.expr(words_expr("text", "spark")).alias("W")
    )
    grams = (
        base.filter(F.size("W") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(W) - 1), i -> "
                    "struct(element_at(W, CAST(i AS INT)) AS w1, "
                    "concat(element_at(W, CAST(i AS INT)), ' ', "
                    "element_at(W, CAST(i + 1 AS INT))) AS g))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", F.md5("p.g").alias("gh"))
    )
    vocab = base.select(F.explode("W").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    cnt2 = grams.groupBy("w1", "gh").agg(F.count("*").alias("c2"))
    cnt1 = cnt2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    rate = apply_stages(
        cnt2.join(cnt1, "w1").crossJoin(F.broadcast(vocab)),
        nll_q_stages(),
    ).select("gh", "nll_q")
    return (
        grams.join(rate, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("nll_q").alias("nll_micro"),
        )
        .filter(F.col("doc_id") % LM_SCORE_MOD == 0)
        .select(
            "doc_id",
            "n_bigrams",
            "nll_micro",
            F.expr(
                "round(CAST(nll_micro AS DOUBLE)"
                " / CAST(n_bigrams AS DOUBLE) / 1000000.0, 6)"
            ).alias("per_token_nll"),
        )
    )


def _lm_perplexity_sql() -> str:
    w = words_expr("text", "duckdb")
    return f"""
WITH base AS (SELECT doc_id, {w} AS W FROM documents),
grams AS (
  SELECT doc_id, W[i] AS w1, md5(W[i] || ' ' || W[i + 1]) AS gh
  FROM (SELECT doc_id, W, unnest(range(1, len(W))) AS i
        FROM base WHERE len(W) >= 2)),
vocab AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT unnest(W) AS w FROM base)),
cnt2 AS (SELECT w1, gh, count(*) AS c2 FROM grams GROUP BY w1, gh),
cnt1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY w1),
rate AS (
  SELECT gh, nll_q
  FROM ({stages_sql("SELECT * FROM cnt2 JOIN cnt1 USING (w1)"
                    " CROSS JOIN vocab", nll_q_stages())}))
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(nll_q) AS BIGINT) AS nll_micro,
       round(CAST(sum(nll_q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             / 1000000.0, 6) AS per_token_nll
FROM grams JOIN rate USING (gh)
GROUP BY doc_id
HAVING doc_id % {LM_SCORE_MOD} = 0
"""


# ---------------------------------------------------------------------------
# Train/test split-leakage audit
# ---------------------------------------------------------------------------

def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every TEST-split document (split_train_test's md5 gate),
    count its word shingles that also occur in ANY train document, and
    how many distinct train documents share them — the integrity audit
    run after splitting, before training.

    Unlike decontaminate (small eval side -> broadcast probe), BOTH
    sides here are unbounded fractions of the corpus, so this is the
    shuffle-join regime: each side hash-partitions on md5(shingle) and
    the exchange carries (hash, doc_id) pairs only."""
    docs = load_table(spark, sf_dir, "documents")
    base = spread(
        docs.select("doc_id", "text"), src_path=f"{sf_dir}/documents.parquet"
    ).withColumn(
        "__ws", F.expr(words_expr("text", "spark"))
    ).select("doc_id", F.expr(_shingles("spark", ws="__ws")).alias("sh"))
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    te = base.filter(gate >= TRAIN_GATE_HEX).select(
        "doc_id",
        F.size("sh").cast("bigint").alias("n_shingles"),
        F.explode("sh").alias("g"),
    ).select("doc_id", "n_shingles", F.md5("g").alias("gh"))
    tr = (
        base.filter(gate < TRAIN_GATE_HEX)
        .select(F.col("doc_id").alias("train_doc"), F.explode("sh").alias("g"))
        .select("train_doc", F.md5("g").alias("gh"))
    )
    return (
        te.join(tr, "gh")
        .groupBy("doc_id")
        .agg(
            F.min("n_shingles").alias("n_shingles"),
            F.countDistinct("gh").alias("n_leaked"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
        .withColumn(
            "leak_ratio",
            F.expr(
                "round(CAST(n_leaked AS DOUBLE)"
                " / CAST(n_shingles AS DOUBLE), 6)"
            ),
        )
    )


def _split_leakage_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {_shingles('duckdb')} AS sh FROM documents),
te AS (
  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, md5(g) AS gh
  FROM (SELECT doc_id, sh, unnest(sh) AS g FROM base
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              >= '{TRAIN_GATE_HEX}')),
tr AS (
  SELECT doc_id AS train_doc, md5(g) AS gh
  FROM (SELECT doc_id, unnest(sh) AS g FROM base
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < '{TRAIN_GATE_HEX}'))
SELECT te.doc_id,
       min(n_shingles) AS n_shingles,
       CAST(count(DISTINCT gh) AS BIGINT) AS n_leaked,
       CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_docs,
       round(CAST(count(DISTINCT gh) AS DOUBLE)
             / CAST(min(n_shingles) AS DOUBLE), 6) AS leak_ratio
FROM te JOIN tr USING (gh)
GROUP BY te.doc_id
"""


QUERIES = {
    "importance_resampling": q_importance_resampling,
    "lm_perplexity": q_lm_perplexity,
    "split_leakage": q_split_leakage,
    "source_drift": q_source_drift,
}

ORACLES = {
    "importance_resampling": _importance_resampling_sql(),
    "lm_perplexity": _lm_perplexity_sql(),
    "split_leakage": _split_leakage_sql(),
    "source_drift": _source_drift_sql(),
}
