"""Oracle parity + invariants for the round-4 data-selection operators
(operators/selection.py) and exact integer sketches
(operators/sketches.py)."""

from __future__ import annotations

import pytest
from conftest import SF_DIR, assert_matches_oracle
from pyspark.sql import functions as F

from flink_stream_processing_refarch_spark.operators import selection, sketches
from flink_stream_processing_refarch_spark.plans import relational
from flink_stream_processing_refarch_spark.schemas import load_table

ALL = {**selection.QUERIES, **sketches.QUERIES}
ORACLES = {**selection.ORACLES, **sketches.ORACLES}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, ALL[name], ORACLES[name], min_rows=1)


def test_cms_estimates_are_one_sided(spark):
    """Count-min's defining guarantee: est >= exact, always."""
    rows = sketches.q_heavy_hitters_cms(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["exact_count"]
        assert r["overcount"] == r["est_count"] - r["exact_count"]


def test_cms_sketch_merges_by_cell_addition(spark):
    """The mergeability contract: sketches built over disjoint halves of
    the stream, merged by elementwise addition, equal the whole-stream
    sketch."""
    ev = load_table(spark, SF_DIR, "events")
    salted = ev.select(
        "user_id",
        "event_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        sketches._cms_bucket_spark(r).alias("bkt"),
                    )
                    for r in range(sketches.CMS_D)
                ]
            )
        ).alias("rb"),
    ).select("event_id", "rb.r", "rb.bkt")
    whole = {
        (r["r"], r["bkt"]): r["n"]
        for r in salted.groupBy("r", "bkt").agg(F.count("*").alias("n")).collect()
    }
    merged: dict = {}
    for parity in (0, 1):
        part = (
            salted.filter(F.col("event_id") % 2 == parity)
            .groupBy("r", "bkt")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in part:
            merged[(r["r"], r["bkt"])] = merged.get((r["r"], r["bkt"]), 0) + r["n"]
    assert merged == whole


def test_streaming_cms_equals_batch_sketch(spark):
    """The incremental (multi-micro-batch) sketch build must land on
    exactly the batch sketch — cell addition is associative."""
    from flink_stream_processing_refarch_spark.streaming import jobs

    batch = {tuple(r) for r in sketches.q_heavy_hitters_cms(spark, SF_DIR).collect()}
    stream = {
        tuple(r) for r in jobs.q_heavy_hitters_streaming(spark, SF_DIR).collect()
    }
    assert stream == batch


def test_streaming_quantile_histogram_bounds_hold(spark):
    """The stream-merged histogram's quantile estimates obey the same
    within-bin error bound as the batch sketch."""
    from flink_stream_processing_refarch_spark.streaming import jobs

    rows = jobs.q_quantile_histogram_streaming(spark, SF_DIR).collect()
    assert {r["pct"] for r in rows} == set(jobs.QH_EV_PCTS)
    for r in rows:
        assert r["bound_ok"]
        assert 0 <= r["est_hi_cents"] - r["exact_cents"] <= jobs.QH_EV_BIN_CENTS


def test_quantile_histogram_bounds_hold(spark, duck):
    rows = sketches.q_quantile_histogram(spark, SF_DIR).collect()
    assert {r["pct"] for r in rows} == set(sketches.QH_PCTS)
    lo, hi = duck.execute(
        "SELECT min(n_chars), max(n_chars) FROM documents"
    ).fetchone()
    for r in rows:
        assert r["bound_ok"]
        assert 0 <= r["est_hi"] - r["exact_val"] <= sketches.QH_BIN_W
        assert lo <= r["exact_val"] <= hi


def test_importance_resampling_excludes_targets_and_descends(spark, duck):
    rows = selection.q_importance_resampling(spark, SF_DIR).collect()
    assert rows
    weights = [r["weight_micro"] for r in rows]
    assert weights == sorted(weights, reverse=True)
    target_ids = {
        r[0]
        for r in duck.execute(
            "SELECT doc_id FROM documents WHERE source IN ('src0', 'src1')"
        ).fetchall()
    }
    assert not target_ids & {r["doc_id"] for r in rows}


def test_lm_perplexity_counts_bigrams_exactly(spark, duck):
    rows = {r["doc_id"]: r for r in selection.q_lm_perplexity(spark, SF_DIR).collect()}
    assert rows
    expect = dict(
        duck.execute(
            "SELECT doc_id, len(string_split(text, ' ')) - 1 FROM documents"
            f" WHERE doc_id % {selection.LM_SCORE_MOD} = 0"
            " AND len(string_split(text, ' ')) >= 2"
        ).fetchall()
    )
    assert set(rows) == set(expect)
    for doc_id, r in rows.items():
        assert r["n_bigrams"] == expect[doc_id]
        # Smoothed in-corpus bigrams: 0 < P < 1 so NLL is positive.
        assert r["nll_micro"] > 0
        assert r["per_token_nll"] > 0


def test_source_drift_is_nonnegative_with_full_token_mass(spark, duck):
    """Gibbs' inequality: KL(source || corpus) >= 0 (up to the nano-unit
    quantization grain per bucket); token totals partition the corpus."""
    rows = selection.q_source_drift(spark, SF_DIR).collect()
    assert rows
    total = duck.execute(
        "SELECT sum(len(string_split(text, ' '))) FROM documents"
    ).fetchone()[0]
    grain = 256  # <= 0.5 nano-units per bucket of floor() rounding
    for r in rows:
        assert r["kl_nano"] >= -grain
        assert r["kl"] >= -1e-6
    assert sum(r["n_tokens"] for r in rows) == total


def test_split_leakage_only_reports_test_docs(spark, duck):
    rows = selection.q_split_leakage(spark, SF_DIR).collect()
    assert rows
    test_ids = {
        r[0]
        for r in duck.execute(
            "SELECT doc_id FROM documents"
            " WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
            f" >= '{selection.TRAIN_GATE_HEX}'"
        ).fetchall()
    }
    for r in rows:
        assert r["doc_id"] in test_ids
        assert 0 < r["n_leaked"] <= r["n_shingles"]
        assert r["leak_ratio"] <= 1.0


def test_streaming_drift_equals_batch(spark):
    """The complete-mode merged (source, bucket) snapshot must land on
    exactly the batch aggregate (count addition is associative), so the
    two drift reports are row-identical."""
    from flink_stream_processing_refarch_spark.operators import selection
    from flink_stream_processing_refarch_spark.streaming import jobs

    batch = {tuple(r) for r in selection.q_source_drift(spark, SF_DIR).collect()}
    stream = {
        tuple(r) for r in jobs.q_source_drift_streaming(spark, SF_DIR).collect()
    }
    assert stream == batch


def test_drift_entries_lose_no_task_accumulators(spark):
    """Both drift entries checkpoint their state before the report's
    jobs run. A lazy checkpoint was computed by the report's concurrent
    stage jobs; the first to finish cut the lineage, the driver could GC
    the state aggregate's SQL metrics, and the other jobs' tasks then
    logged one ``non-existent accumulator`` ERROR per metric. Driver GCs
    are forced throughout so that window is open; the driver log must
    carry no such ERROR."""
    import threading
    import time

    from flink_stream_processing_refarch_spark.streaming import jobs

    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    config = jvm.org.apache.logging.log4j.LogManager.getContext(
        False
    ).getConfiguration()
    log = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(),
        None, log, "drift-accumulators", False, True,
    )
    appender.start()
    root = config.getRootLogger()
    root.addAppender(appender, None, None)
    done = threading.Event()

    def force_gc():
        while not done.is_set():
            jvm.System.gc()
            time.sleep(0.1)

    gc = threading.Thread(target=force_gc, daemon=True)
    gc.start()
    try:
        for _ in range(2):
            selection.q_source_drift(spark, SF_DIR).collect()
            jobs.q_source_drift_streaming(spark, SF_DIR).collect()
    finally:
        done.set()
        gc.join(timeout=60)
        root.removeAppender("drift-accumulators")
        appender.stop()
    assert not gc.is_alive()
    assert "non-existent accumulator" not in log.toString()


def _session_twin(spark):
    from flink_stream_processing_refarch_spark.sources.trips import load_events

    ev_ts = load_events(spark, SF_DIR).withColumn(
        "ts_t", F.timestamp_micros(F.expr("ts DIV 1000"))
    )
    return relational.session_windows(ev_ts)


def _cms_twin(spark):
    ev = load_table(spark, SF_DIR, "events")
    return sketches.cms_topk_report(sketches.cms_cells(ev), ev)


def _drift_twin(spark):
    from flink_stream_processing_refarch_spark.schemas import spread

    docs = spread(
        load_table(spark, SF_DIR, "documents").select("source", "text"),
        src_path=f"{SF_DIR}/documents.parquet",
    )
    return selection.drift_report(selection.drift_cells(docs))


def _quantile_twin(spark):
    docs = load_table(spark, SF_DIR, "documents")
    merged = (
        docs.groupBy(
            "source", F.floor(F.col("n_chars") / sketches.QH_BIN_W).alias("bin")
        )
        .agg(F.count("*").alias("n"))
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
    return sketches.histogram_quantiles(
        merged, docs.select("n_chars"), sketches.QH_BIN_W
    )


# batch entry -> the shared functions composed over the static source the
# way its streaming twin composes them over the stream
_TWINS = {
    "session_windows": (relational.q_session_windows, _session_twin),
    "heavy_hitters_cms": (sketches.q_heavy_hitters_cms, _cms_twin),
    "source_drift": (selection.q_source_drift, _drift_twin),
    "quantile_histogram": (sketches.q_quantile_histogram, _quantile_twin),
}


@pytest.mark.parametrize("name", sorted(_TWINS))
def test_batch_and_stream_twins_share_one_state_definition(
    spark, monkeypatch, name
):
    """Each streaming twin binds the same state function as its batch
    entry: composed over the static source, the shared functions give
    the batch entry's optimized plan exactly (attribute ids stripped).
    The drift entry's localCheckpoint is made the identity so its
    checkpointed state is compared too, not an opaque RDD scan."""
    import re

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?", "", text)

    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint", lambda df, eager=True: df
    )
    batch, twin = _TWINS[name]
    assert plan(twin(spark)) == plan(batch(spark, SF_DIR))


def test_histogram_quantiles_over_static_events_equals_streaming_entry(spark):
    """The quantile tail over the static events cents histogram returns
    exactly the rows of the streaming entry, which reads the same
    histogram merged across micro-batches."""
    from flink_stream_processing_refarch_spark.streaming import jobs

    ev = load_table(spark, SF_DIR, "events")
    static = sketches.histogram_quantiles(
        sketches.cents_histogram(ev),
        sketches.value_cents(ev),
        sketches.QH_EV_BIN_CENTS,
    )
    stream = jobs.q_quantile_histogram_streaming(spark, SF_DIR)
    assert sorted(map(tuple, static.collect())) == sorted(
        map(tuple, stream.collect())
    )
