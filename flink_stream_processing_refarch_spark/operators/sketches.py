"""Mergeable-sketch operators beyond the HLL rollup (corpus.py):
count-min-sketch heavy hitters and a fixed-bin mergeable quantile
histogram.

Like the rest of the LLM-pipeline family these extend the reference's
inventory (its only aggregations are the two taxi windowed counts,
flink-taxi-stream-processor/.../ProcessTaxiStream.java:96-136) with the
summary structures a 100 TB pipeline keeps per partition/day/source and
merges instead of rescanning.

Determinism: both sketches are EXACT integer constructions (md5 bucket
keys + integer counters), so Spark and the DuckDB oracle agree
bit-for-bit — unlike estimator-library sketches (HLL/KLL) whose raw
estimates are engine-specific and need the in-row bound-check pattern
used by sketch_rollup / approx_distinct.

Scale posture:
  - CMS: the sketch is a constant-size (CMS_D x CMS_W) integer matrix.
    Building it is a map-side-combinable aggregate (each scan partition
    collapses to <= D*W cells before the exchange); merging sketches
    from any number of partitions/streams is elementwise addition —
    the classic mergeable-summary contract (Cormode & Muthukrishnan
    2005). The probe side joins candidate keys against the BROADCAST
    sketch — the full event stream is never re-scanned per query.
  - Quantile histogram: per-source fixed-bin histograms (O(sources x
    bins) rows) merge by summed counts; global quantiles come from the
    merged histogram's cumulative sum. The only windowed scans run over
    AGGREGATED relations whose size is bounded by the bin count /
    distinct metric values, never over raw rows.

Streaming twins (streaming/jobs.py) bind to the state functions here, so
each sketch is written once: ``cms_cells`` is the CMS state of both
heavy_hitters_cms and heavy_hitters_streaming; ``cents_histogram`` is
quantile_histogram_streaming's state, and ``histogram_quantiles`` (Spark)
and ``histogram_quantiles_sql`` (DuckDB) are the quantile tail of both
histogram entries. Each caller names its output columns itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load_table

CMS_D = 4     # count-min rows (independent hash salts)
CMS_W = 256   # buckets per row (2 md5 hex chars)
HH_K = 20     # heavy hitters reported

QH_BIN_W = 16             # n_chars histogram bin width
QH_EV_BIN_CENTS = 800     # events.value histogram bin width in cents ($8)
QH_PCTS = (50, 90, 99)    # quantiles estimated from a merged histogram

VALUE_CENTS = (
    "CAST(floor(value * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " AS BIGINT)"
)


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters (events.user_id)
# ---------------------------------------------------------------------------

def _cms_bucket_spark(r: int) -> F.Column:
    """Row-``r`` bucket key: first 2 hex chars of md5('<r>:<user_id>') —
    256 uniform buckets per salt, portable to any engine with md5."""
    return F.substring(
        F.md5(F.concat(F.lit(f"{r}:"), F.col("user_id").cast("string"))), 1, 2
    )


def cms_salted(df: DataFrame, *extra_cols: str) -> DataFrame:
    """Each input row fanned out to its CMS_D (r, bkt) cell coordinates."""
    return df.select(
        *extra_cols,
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cms_bucket_spark(r).alias("bkt")
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("rb"),
    ).select(*extra_cols, "user_id", "rb.r", "rb.bkt")


def cms_topk_report(cells: DataFrame, ev: DataFrame) -> DataFrame:
    """Probe the (broadcast) sketch cells for every candidate user and
    report the top-``HH_K`` by estimated count, exact count alongside."""
    users = ev.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    probe = cms_salted(users, "exact_count")
    return (
        probe.join(F.broadcast(cells), ["r", "bkt"])
        .groupBy("user_id")
        .agg(
            F.min("cell_n").alias("est_count"),
            F.min("exact_count").alias("exact_count"),
        )
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("est_count"), F.asc("user_id"))
        .limit(HH_K)
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``HH_K`` users by count-min-sketch ESTIMATED event count,
    with the exact count alongside (overcount >= 0 always, by the CMS
    one-sided error guarantee — the in-row invariant the oracle hash
    locks down, same spirit as the sketch_ok bound checks).

    The sketch build shuffles at most CMS_D x CMS_W integer cells per
    scan partition (map-side combine); the probe joins the candidate
    keys against the broadcast 1024-cell sketch and takes the min over
    the CMS_D rows. At 100 TB the sketch is built incrementally (per
    day/shard, merged by cell addition — the streaming twin
    heavy_hitters_streaming IS that incremental build) and only the
    probe runs per query."""
    ev = load_table(spark, sf_dir, "events")
    return cms_topk_report(cms_cells(ev), ev)


def cms_cells(ev: DataFrame) -> DataFrame:
    """The sketch itself: (r, bkt, cell_n) counts over any events frame,
    batch or stream. As streaming state it is CMS_D x CMS_W rows,
    bounded regardless of stream length or key cardinality, and each
    micro-batch's increments merge by cell addition — so the bounded
    stream's final snapshot is the batch sketch exactly."""
    return (
        cms_salted(ev.select("user_id"))
        .groupBy("r", "bkt")
        .agg(F.count("*").alias("cell_n"))
    )


def _heavy_hitters_cms_sql() -> str:
    salts = ", ".join(str(r) for r in range(CMS_D))
    bkt = (
        "substr(md5(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)),"
        " 1, 2)"
    )
    return f"""
WITH salts AS (SELECT unnest([{salts}]) AS r),
cells AS (
  SELECT r, {bkt} AS bkt, count(*) AS cell_n
  FROM events CROSS JOIN salts GROUP BY 1, 2),
users AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id),
probe AS (
  SELECT user_id, exact_count, r, {bkt} AS bkt
  FROM users CROSS JOIN salts)
SELECT user_id, min(cell_n) AS est_count,
       min(exact_count) AS exact_count,
       min(cell_n) - min(exact_count) AS overcount
FROM probe JOIN cells USING (r, bkt)
GROUP BY user_id
ORDER BY est_count DESC, user_id ASC
LIMIT {HH_K}
"""


# ---------------------------------------------------------------------------
# Mergeable quantile histograms (documents.n_chars; events.value in cents)
# ---------------------------------------------------------------------------

def q_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global p50/p90/p99 of document length estimated from MERGED
    per-source fixed-bin histograms, with the exact quantile value
    alongside — the mergeable-quantile counterpart of sketch_rollup's
    HLL union: sketch each source once (O(bins) integer rows), answer
    global quantiles from the merged histogram with no rescan."""
    docs = load_table(spark, sf_dir, "documents")
    # Per-source histograms (the mergeable per-shard summaries) ...
    per_src = docs.groupBy(
        "source", F.floor(F.col("n_chars") / QH_BIN_W).alias("bin")
    ).agg(F.count("*").alias("n"))
    # ... merged by cell addition: the only thing a global consumer reads.
    merged = per_src.groupBy("bin").agg(F.sum("n").alias("n"))
    return histogram_quantiles(merged, docs.select("n_chars"), QH_BIN_W)


def value_cents(ev: DataFrame) -> DataFrame:
    """Event value quantized to exact integer cents (column ``cents``)."""
    return ev.select(F.expr(VALUE_CENTS).alias("cents"))


def cents_histogram(ev: DataFrame) -> DataFrame:
    """Fixed-bin (bin, n) histogram of event value in cents over any
    events frame, batch or stream. As streaming state it is bounded by
    the bin count regardless of stream length, and bin addition is
    associative, so the bounded stream's final snapshot is the batch
    histogram exactly (jobs.q_quantile_histogram_streaming)."""
    return (
        value_cents(ev)
        .groupBy(F.expr(f"cents DIV {QH_EV_BIN_CENTS}").alias("bin"))
        .agg(F.count("*").alias("n"))
    )


def histogram_quantiles(
    merged: DataFrame, values: DataFrame, bin_w: int
) -> DataFrame:
    """QH_PCTS quantiles of a merged fixed-bin histogram ``merged`` (bin,
    n) with bin width ``bin_w``, and the exact quantile of ``values`` (a
    one-column frame of the binned values) alongside.

    Exactness contract: the estimate ``est_hi`` is the exclusive upper
    edge of the first bin whose cumulative count reaches ceil(pct/100 *
    total) — an integer rule both engines compute identically; the
    in-row invariant 0 <= est_hi - exact_val <= bin_w (the sketch's
    guaranteed error bound) is part of the hashed output. The exact
    value comes from a cumulative sum over the value-level histogram —
    a window over an AGGREGATED relation bounded by the distinct value
    count (never raw rows), the same bounded-window discipline as
    length_histogram."""
    (col,) = values.columns

    def running(key: str):
        return Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )

    cum = merged.select("bin", F.sum("n").over(running("bin")).alias("cum"))
    total = merged.agg(F.sum("n").alias("total"))
    pcts = merged.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in QH_PCTS])).alias("pct")
    )
    thr = pcts.crossJoin(F.broadcast(total)).select(
        "pct",
        F.floor((F.col("total") * F.col("pct") + F.lit(99)) / F.lit(100))
        .cast("long")
        .alias("thr"),
    )
    est = (
        thr.join(F.broadcast(cum), F.col("cum") >= F.col("thr"))
        .groupBy("pct")
        .agg(F.min("thr").alias("thr"), F.min("bin").alias("bin"))
        .select("pct", "thr", ((F.col("bin") + 1) * bin_w).alias("est_hi"))
    )
    vcum = (
        values.groupBy(col)
        .agg(F.count("*").alias("n"))
        .select(col, F.sum("n").over(running(col)).alias("cum"))
    )
    exact = (
        est.join(F.broadcast(vcum), F.col("cum") >= F.col("thr"))
        .groupBy("pct")
        .agg(
            F.min("thr").alias("thr"),
            F.min("est_hi").alias("est_hi"),
            F.min(col).alias("exact_val"),
        )
    )
    return exact.select(
        "pct",
        "thr",
        "est_hi",
        "exact_val",
        (
            (F.col("est_hi") - F.col("exact_val") >= 0)
            & (F.col("est_hi") - F.col("exact_val") <= bin_w)
        ).alias("bound_ok"),
    )


def histogram_quantiles_sql(
    ctes: str, values: str, col: str, bin_w: int
) -> str:
    """DuckDB twin of ``histogram_quantiles``: ``ctes`` must define
    ``merged(bin, n)``; ``values`` is the relation holding column
    ``col``."""
    pcts = ", ".join(str(p) for p in QH_PCTS)
    return f"""
WITH {ctes},
cum AS (
  SELECT bin, CAST(sum(n) OVER (ORDER BY bin
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM merged),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM merged),
thr AS (
  SELECT pct, CAST(floor((total * pct + 99) / 100) AS BIGINT) AS thr
  FROM (SELECT unnest([{pcts}]) AS pct) CROSS JOIN total),
est AS (
  SELECT pct, min(thr) AS thr, (min(bin) + 1) * {bin_w} AS est_hi
  FROM thr JOIN cum ON cum >= thr GROUP BY pct),
vcum AS (
  SELECT {col}, CAST(sum(n) OVER (ORDER BY {col}
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM (SELECT {col}, count(*) AS n FROM {values} GROUP BY {col})),
ex AS (
  SELECT pct, min(thr) AS thr, min(est_hi) AS est_hi,
         min({col}) AS exact_val
  FROM est JOIN vcum ON cum >= thr GROUP BY pct)
SELECT pct, thr, est_hi, CAST(exact_val AS BIGINT) AS exact_val,
       est_hi - exact_val >= 0 AND est_hi - exact_val <= {bin_w}
         AS bound_ok
FROM ex
"""


def _quantile_histogram_sql() -> str:
    return histogram_quantiles_sql(
        f"""per_src AS (
  SELECT source, CAST(floor(n_chars / {QH_BIN_W}) AS BIGINT) AS bin,
         count(*) AS n
  FROM documents GROUP BY 1, 2),
merged AS (SELECT bin, CAST(sum(n) AS BIGINT) AS n FROM per_src GROUP BY bin)""",
        "documents",
        "n_chars",
        QH_BIN_W,
    )


def cents_histogram_quantiles_sql() -> str:
    """DuckDB twin of ``histogram_quantiles`` over ``cents_histogram``
    of the events table."""
    return histogram_quantiles_sql(
        f"""cents_t AS (SELECT {VALUE_CENTS} AS cents FROM events),
merged AS (
  SELECT cents // {QH_EV_BIN_CENTS} AS bin, count(*) AS n
  FROM cents_t GROUP BY 1)""",
        "cents_t",
        "cents",
        QH_EV_BIN_CENTS,
    )


QUERIES = {
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "quantile_histogram": q_quantile_histogram,
}

ORACLES = {
    "heavy_hitters_cms": _heavy_hitters_cms_sql(),
    "quantile_histogram": _quantile_histogram_sql(),
}
