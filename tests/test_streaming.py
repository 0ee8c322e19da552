"""Streaming surface tests: batch/stream parity, the foreachBatch
pipeline + ES-style sink, the wire-format round trip, watermark
late-row dropping, and the replay tool (SURVEY.md §2.1, §2.5, §4.3)."""

from __future__ import annotations

import glob
import json
import os

from conftest import SF_DIR, assert_matches_oracle

from flink_stream_processing_refarch_spark.oracle import sqlgen
from flink_stream_processing_refarch_spark.plans import taxi
from flink_stream_processing_refarch_spark.sources import trips as trips_mod
from flink_stream_processing_refarch_spark.streaming import jobs, replay
from flink_stream_processing_refarch_spark.streaming import sinks as sinks_mod


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_q1_streaming_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark, duck, jobs.q1_streaming, sqlgen.q1_streaming_sql()
    )


def test_q2_streaming_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark, duck, jobs.q2_streaming, sqlgen.q2_streaming_sql()
    )


def test_trending_cells_streaming_matches_oracle(spark, duck):
    assert_matches_oracle(
        spark,
        duck,
        jobs.q_trending_cells_streaming,
        sqlgen.trending_cells_streaming_sql(),
    )


def test_trending_cells_streaming_multibatch(spark):
    """The leaderboard's streaming half aggregates across micro-batches
    (state store carries in-flight windows), so a forced multi-batch
    replay ranks identically to the batch query restricted to
    watermark-closed windows."""
    from flink_stream_processing_refarch_spark.plans import taxi

    mfpt = jobs.half_source_files(spark, SF_DIR)
    counts = jobs._run_to_memory(
        jobs.trending_counts_from_trips(
            jobs.stream_clean_trips(spark, SF_DIR, maxFilesPerTrigger=mfpt)
        )
    )
    got = taxi.rank_trending(counts)
    expect = _watermark_restricted(spark, taxi.q_trending_cells(spark, SF_DIR))
    assert _rows(got) == _rows(expect)


import pytest


def test_kinesis_swap_point(spark):
    """S1/S7 parity: the Kinesis reader/writer configs build connector-
    agnostically (load raises only where the connector jar is absent),
    and the byte-parse chain drops malformed frames (S2/S5)."""
    import json

    from flink_stream_processing_refarch_spark.sources import kinesis

    reader = kinesis.kinesis_reader(spark, "taxi-trips", "us-east-1")
    with pytest.raises(Exception, match="DATA_SOURCE_NOT_FOUND"):
        reader.load()

    good = json.dumps({
        "type": "trip", "trip_id": 1,
        "pickup_datetime": "2024-01-01T00:00:00Z",
        "dropoff_datetime": "2024-01-01T00:05:00Z",
        "pickup_lat": 40.75, "pickup_lon": -73.98,
        "dropoff_lat": 40.75, "dropoff_lon": -73.98,
        "total_amount": 10.0,
    }).encode()
    df = spark.createDataFrame([(good,), (b"not json",)], "data binary")
    out = kinesis.parse_wire_bytes(df)
    assert out.count() == 1
    assert "trip_id" in out.columns


def test_kinesis_partition_key_routing(spark):
    """F9: the sink's partition key is the payload hash — deterministic
    (same payload -> same shard) and spread across distinct payloads."""
    from flink_stream_processing_refarch_spark.sources.kinesis import wire_frame

    df = spark.createDataFrame(
        [("payload-a",), ("payload-a",), ("payload-b",)], "value string"
    )
    rows = wire_frame(df).collect()
    assert [r["data"] for r in rows] == [b"payload-a", b"payload-a", b"payload-b"]
    keys = [r["partitionKey"] for r in rows]
    assert keys[0] == keys[1] != keys[2]
    assert all(isinstance(k, str) for k in keys)


@pytest.mark.parametrize("name", sorted(jobs.ORACLES))
def test_extended_streaming_matches_oracle(spark, duck, name):
    """Stream-static join, stream-stream interval join, and the custom
    applyInPandasWithState sessionizer all match their batch oracles on a
    bounded replay."""
    assert_matches_oracle(spark, duck, jobs.QUERIES[name], jobs.ORACLES[name])


def test_tws_registration_tracks_protobuf_availability():
    """transformWithStateInPandas needs google.protobuf (its JVM<->python
    state protocol); the query must register exactly when that import
    works, so the driver contract never exposes a query that crashes.

    Since r04 the import is expected to succeed even without the protobuf
    distribution: vendor/miniproto provides a from-scratch pure-Python
    runtime subset and vendorpath.ensure_protobuf puts it on sys.path /
    PYTHONPATH (real protobuf, when present, still wins — the vendor dir
    is appended only after the plain import fails)."""
    assert jobs._tws_available(), (
        "google.protobuf should resolve via the real distribution or "
        "the vendored miniproto runtime; if this fails the vendor tree "
        "or vendorpath.py broke"
    )
    assert "tws_user_totals" in jobs.QUERIES
    assert "tws_user_totals" in jobs.ORACLES
    import google.protobuf  # noqa: F401  (must not raise after the gate)


def test_stream_static_join_broadcasts_dims(spark, duck):
    """The static dimension side must not shuffle the stream: the join is
    a broadcast join in the micro-batch plans."""
    plan = (
        jobs.stream_static_join_df(spark, SF_DIR)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ResolvedHint" in plan or "broadcast" in plan.lower(), plan[:2000]


def test_stream_equals_batch_up_to_watermark(spark):
    """Bounded streaming append-mode output == batch result restricted to
    windows closed by the final watermark (SURVEY.md §4.3 discipline)."""
    batch = taxi.q1_pickup_count(spark, SF_DIR)
    stream = jobs.q1_streaming(spark, SF_DIR)
    max_ms = (
        trips_mod.clean_trips(spark, SF_DIR)
        .agg({"dropoff_ms": "max"})
        .collect()[0][0]
    )
    expected = batch.filter(batch["timestamp"] < max_ms)
    assert _rows(stream) == _rows(expected)
    # and the only difference from full batch is trailing unclosed windows
    assert len(_rows(batch)) >= len(_rows(stream))


def _watermark_restricted(spark, batch_df):
    """Batch result restricted to windows the final watermark closes —
    the append-mode emission rule every streaming taxi surface follows."""
    max_ms = (
        trips_mod.clean_trips(spark, SF_DIR)
        .agg({"dropoff_ms": "max"})
        .collect()[0][0]
    )
    return batch_df.filter(batch_df["timestamp"] < max_ms)


def test_pipeline_stateful_aggregation(spark, tmp_path):
    """The pipeline keeps the windowed aggregation in the streaming plan
    (foreachBatch = sink relay only), so its output is the batch answer
    restricted to watermark-closed windows — same rule as q1/q2_streaming
    — and the ES-style sink receives well-formed bulk payloads."""
    res = jobs.run_taxi_pipeline(spark, SF_DIR, out_dir=str(tmp_path))
    assert _rows(res["pickup_count"]) == _rows(
        _watermark_restricted(spark, taxi.q1_pickup_count(spark, SF_DIR))
    )
    assert _rows(res["trip_duration"]) == _rows(
        _watermark_restricted(spark, taxi.q2_trip_duration(spark, SF_DIR))
    )

    lines = list(sinks_mod.iter_bulk_lines(str(tmp_path) + "/pickup_count"))
    assert lines and len(lines) % 2 == 0  # action/doc pairs
    action = json.loads(lines[0])
    assert action["index"]["_index"] == "taxi-dashboard"
    assert action["index"]["_type"] == "pickup_count"
    doc = json.loads(lines[1])
    assert set(doc) == {"location", "pickup_count", "timestamp"}
    assert len(lines) // 2 == res["pickup_count"].count()


def test_es_sink_epoch_redelivery_idempotent(spark, tmp_path):
    """Epoch-addressed bulk dirs: redelivering the same epoch (Structured
    Streaming's recovery contract) overwrites instead of appending —
    exactly-once to the transport, vs the reference's at-least-once
    (ElasticsearchJestSink.java:98 FIXME). The write is executor-side
    (``df.write.text``); ``maxRecordsPerFile`` enforces the reference's
    bulk-request cap per part file."""
    from flink_stream_processing_refarch_spark.streaming.sinks import (
        EsBulkFileSink,
        iter_bulk_lines,
        write_batch_to_es,
    )

    def n_docs():
        return sum(1 for _ in iter_bulk_lines(str(tmp_path / "sink"))) // 2

    sink = EsBulkFileSink(str(tmp_path / "sink"), max_docs=2)  # multi-file epoch
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).coalesce(1)
    write_batch_to_es(df, sink, "t", epoch_id=7)
    first = sorted(glob.glob(str(tmp_path / "sink" / "bulk-e000007" / "part-*")))
    assert first
    for f in first:  # 500-doc policy: <= max_docs docs per bulk file
        assert len(open(f).read().splitlines()) <= 2 * sink.max_docs
    assert n_docs() == 3

    write_batch_to_es(df, sink, "t", epoch_id=7)  # redelivery of epoch 7
    assert n_docs() == 3  # no duplicates

    write_batch_to_es(df.limit(1), sink, "t", epoch_id=8)  # next epoch appends
    assert n_docs() == 4


def test_pipeline_relay_no_driver_materialization(spark, tmp_path, monkeypatch):
    """VERDICT r06 #1: the ES relay must not funnel result rows through
    the driver. Every driver-side materialization API is patched to raise
    for the whole pipeline run — the executor-side ``write.text`` relay
    never touches them, so the run completes and the sink files hold the
    full result set."""
    from pyspark.sql import DataFrame as _DF

    def _banned(self, *a, **k):  # noqa: ANN001
        raise AssertionError("driver-side materialization on the relay path")

    for api in ("collect", "toPandas", "toLocalIterator", "take", "head"):
        monkeypatch.setattr(_DF, api, _banned)
    out = str(tmp_path / "out")
    jobs.run_taxi_pipeline(spark, SF_DIR, out_dir=out, collect_results=False)
    n = sum(1 for _ in sinks_mod.iter_bulk_lines(out + "/pickup_count")) // 2
    monkeypatch.undo()
    assert n == _watermark_restricted(
        spark, taxi.q1_pickup_count(spark, SF_DIR)
    ).count()


def test_pipeline_restart_same_checkpoint_no_duplicates(spark, tmp_path):
    """A restart of the whole pipeline against the same checkpoint + sink
    reprocesses nothing (offsets committed) and duplicates nothing."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def n_docs():
        return (
            sum(1 for _ in sinks_mod.iter_bulk_lines(out + "/pickup_count"))
            + sum(1 for _ in sinks_mod.iter_bulk_lines(out + "/trip_duration"))
        ) // 2

    jobs.run_taxi_pipeline(
        spark, SF_DIR, out_dir=out, checkpoint_dir=ckpt, collect_results=False
    )
    first = n_docs()
    assert first > 0
    jobs.run_taxi_pipeline(
        spark, SF_DIR, out_dir=out, checkpoint_dir=ckpt, collect_results=False
    )
    assert n_docs() == first


def test_pipeline_multibatch_windows_span_batches(spark, tmp_path):
    """VERDICT r01 #4: with maxFilesPerTrigger=1 forcing one micro-batch
    per replayed chunk, windows spanning micro-batches still aggregate
    globally (state store carries them) and HAVING thresholds apply to
    the TOTAL window count — the pipeline matches the same oracle as the
    single-batch run."""
    wire = str(tmp_path / "wire")
    # 5-min chunks against 10-min windows: every window spans two chunks,
    # i.e. two micro-batches under maxFilesPerTrigger=1
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL", chunk_seconds=300)
    assert len(glob.glob(wire + "/*.json")) >= 2  # genuinely multi-batch
    res = jobs.run_taxi_pipeline(
        spark,
        wire,
        out_dir=str(tmp_path / "out"),
        max_files_per_trigger=1,
        source_format="wire",
    )
    assert _rows(res["pickup_count"]) == _rows(
        _watermark_restricted(spark, taxi.q1_pickup_count(spark, SF_DIR))
    )
    assert _rows(res["trip_duration"]) == _rows(
        _watermark_restricted(spark, taxi.q2_trip_duration(spark, SF_DIR))
    )


def test_taxi_pipeline_slot_runs_multi_batch(spark, monkeypatch):
    """The ``taxi_pipeline`` registry slot (oracle-checked through
    ``test_extended_streaming_matches_oracle``) must split its bounded
    source into >= 2 data micro-batches at SF_DIR, so every oracle check
    also proves windows merging across batches in the state store. A
    data batch advances the source offset its offsets-log entry records;
    a trailing no-data batch repeats it."""
    from pathlib import Path

    seen = []
    run = jobs.run_taxi_pipeline

    def spy(*args, **kwargs):
        res = run(*args, **kwargs)
        log = Path(res["checkpoint_dir"], "taxi", "offsets")
        seen.append({
            p.read_text().splitlines()[-1]
            for p in log.iterdir()
            if p.name.isdigit()
        })
        return res

    monkeypatch.setattr(jobs, "run_taxi_pipeline", spy)
    assert jobs.QUERIES["taxi_pipeline"](spark, SF_DIR).count() > 0
    assert len(seen) == 1 and len(seen[0]) >= 2, seen


def test_pipeline_cli_wire_auto_decompress(spark, tmp_path, capsys):
    """CLI arg wiring end to end: snz-compressed wire chunks through
    --wire --auto-decompress --checkpoint --max-files-per-trigger."""
    from flink_stream_processing_refarch_spark import pipeline as cli

    wire = str(tmp_path / "wire")
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL", compress="snz")
    cli.main([
        "--source", wire,
        "--out-dir", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--max-files-per-trigger", "1",
        "--wire", "--auto-decompress",
    ])
    out = capsys.readouterr().out
    assert "pipeline complete:" in out
    n1 = int(out.split("pipeline complete: ")[1].split(" ")[0])
    expected = _rows(
        _watermark_restricted(spark, taxi.q1_pickup_count(spark, SF_DIR))
    )
    assert n1 == len(expected)


def test_pipeline_one_query_one_scan(spark, tmp_path):
    """Q1 and Q2 share one streaming query: a pipeline call starts
    exactly one query, and its summed ``numInputRows`` equals the
    source's line count — every wire line is read once, not once per
    aggregate."""
    import threading
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    wire = str(tmp_path / "wire")
    replay.replay(spark, SF_DIR, wire, adapt="ORIGINAL", chunk_seconds=300)
    n_lines = 0
    for path in glob.glob(wire + "/*.json"):
        with open(path) as f:
            n_lines += sum(1 for _ in f)

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started, self.terminated, self.rows = 0, 0, 0

        def onQueryStarted(self, event):  # noqa: N802 - listener API
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):  # noqa: N802
            with self.lock:
                self.rows += event.progress.numInputRows

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with self.lock:
                self.terminated += 1

    rec = Recorder()
    spark.streams.addListener(rec)
    try:
        jobs.run_taxi_pipeline(
            spark,
            wire,
            out_dir=str(tmp_path / "out"),
            max_files_per_trigger=2,
            source_format="wire",
            collect_results=False,
        )
        deadline = time.time() + 30  # listener events arrive asynchronously
        while rec.terminated < 1 and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.5)  # a second query's events would have landed too
    finally:
        spark.streams.removeListener(rec)
    assert (rec.started, rec.terminated) == (1, 1)
    assert rec.rows == n_lines > 0


def _airport_cell_chunk(wire_dir: str) -> None:
    """One hand-built wire chunk: in one 10-minute window, pickup cell
    dr5ru7 has 2 trips to JFK (30 and 45 min) and 1 to LGA (20 min), and
    cell dr5ru4 has a single trip; a trip 25 minutes in closes the
    window."""
    from datetime import datetime, timezone

    from flink_stream_processing_refarch_spark.functions import geo

    def iso(epoch_s):
        return datetime.fromtimestamp(epoch_s, timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.000Z"
        )

    def mid(cell):
        lat_lo, lat_hi, lon_lo, lon_hi = geo.geohash_bbox_py(cell)
        return (lat_lo + lat_hi) / 2, (lon_lo + lon_hi) / 2

    midtown, other = mid("dr5ru7"), mid("dr5ru4")
    jfk, lga = mid(sorted(geo.JFK_CELLS)[0]), mid(geo.LGA_G6_CELLS[0])
    trips = [  # (pickup cell, dropoff point, dropoff minute, duration min)
        (midtown, jfk, 8, 30),
        (midtown, jfk, 9, 45),
        (midtown, lga, 7, 20),
        (other, midtown, 5, 10),
        (other, midtown, 25, 10),
    ]
    os.makedirs(wire_dir)
    with open(os.path.join(wire_dir, "chunk-000000.json"), "w") as f:
        for i, (p, d, minute, dur) in enumerate(trips):
            drop_s = 1_700_000_400 + minute * 60  # a 10-minute boundary
            f.write(json.dumps({
                "type": "trip", "trip_id": i,
                "pickup_datetime": iso(drop_s - dur * 60),
                "dropoff_datetime": iso(drop_s),
                "pickup_lat": p[0], "pickup_lon": p[1],
                "dropoff_lat": d[0], "dropoff_lon": d[1], "total_amount": 10.0,
            }) + "\n")


def test_pipeline_fused_airport_legs(spark, tmp_path):
    """Per-airport HAVING on the fused aggregate: a cell with 2 JFK and
    1 LGA trips yields one JFK doc (sum 75, avg 37.5) and no LGA doc;
    a 1-trip cell yields no Q1 doc. The fresh checkpoint records the
    RocksDB state store whatever the session had set."""
    wire = str(tmp_path / "wire")
    _airport_cell_chunk(wire)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    res = jobs.run_taxi_pipeline(
        spark,
        wire,
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        source_format="wire",
    )
    wend = 1_700_001_000_000 - 1
    assert _rows(res["pickup_count"]) == [("dr5ru7", 3, wend)]
    assert _rows(res["trip_duration"]) == [("dr5ru7", "JFK", 75, 37.5, wend)]

    with open(str(tmp_path / "ckpt" / "taxi" / "offsets" / "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"]["spark.sql.streaming.stateStore.providerClass"].endswith(
        ".RocksDBStateStoreProvider"
    )


def test_pipeline_refuses_two_query_checkpoint(spark, tmp_path):
    """A checkpoint root from the former two-query pipeline (one query
    checkpoint per doc type) fails loudly instead of starting the fused
    query from offset 0 against a sink that already holds its epochs."""
    ckpt = tmp_path / "ckpt"
    for doc_type in ("pickup_count", "trip_duration"):
        (ckpt / doc_type / "offsets").mkdir(parents=True)
        (ckpt / doc_type / "metadata").write_text('{"id":"0"}\n')
    with pytest.raises(ValueError, match="checkpoint layout changed"):
        jobs.run_taxi_pipeline(
            spark, SF_DIR, out_dir=str(tmp_path / "out"), checkpoint_dir=str(ckpt)
        )
    assert not (ckpt / "taxi").exists()


def test_corpus_ingest_streaming_multibatch(spark, duck, tmp_path):
    """Corpus ingest (quality filter -> watermark-bounded per-source
    dedup -> running totals) over FOUR time-ordered document chunk files
    with maxFilesPerTrigger=1. The r06 contract: dedup state lives for
    the watermark horizon, so (a) duplicate copies arriving WITHIN the
    horizon (here: same micro-batch, under fresh in-range doc_ids /
    ingest times) are deduplicated by state, and (b) verbatim
    re-deliveries of an earlier chunk land BELOW the watermark and are
    dropped as late — both redelivery shapes end up excluded, so the
    complete-mode snapshot still equals the batch-distinct oracle over
    the original table."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    src = str(tmp_path / "doc_chunks")
    n_chunks = 4
    step = (hi - lo) // n_chunks + 1
    for i in range(n_chunks):
        # contiguous doc_id range = contiguous ingest-time band: the
        # watermark advances monotonically across chunk files
        chunk = docs.filter(
            (F.col("doc_id") >= lo + i * step)
            & (F.col("doc_id") < lo + (i + 1) * step)
        )
        # (a) in-horizon duplicates: every 5th doc of THIS chunk
        # delivered twice in the same file — same (source, h) key at an
        # in-horizon ingest time, so the dedup STATE (not the late
        # filter) must drop the second copy
        dup = chunk.filter(F.col("doc_id") % 5 == 0)
        chunk = chunk.unionByName(dup)
        if i > 0:  # (b) late redelivery of chunk 0's docs
            chunk = chunk.unionByName(
                docs.filter(F.col("doc_id") < lo + step)
            )
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{src}/c{i}")
    import glob as _glob
    import os as _os
    import time as _time

    flat = str(tmp_path / "docs_flat")
    _os.makedirs(flat)
    for i in range(n_chunks):
        (part,) = _glob.glob(f"{src}/c{i}/part-*.parquet")
        _os.link(part, f"{flat}/chunk-{i:03d}.parquet")
        mtime = _time.time() - (n_chunks - i) * 10
        _os.utime(f"{flat}/chunk-{i:03d}.parquet", (mtime, mtime))

    stream = (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    out = jobs._run_to_memory(
        jobs.corpus_ingest_from_stream(stream), output_mode="complete"
    )
    oracle = duck.execute(jobs.ORACLES["corpus_ingest_streaming"]).fetchall()
    assert _rows(out) == sorted(tuple(r) for r in oracle)


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """The unbounded-stream production path the corpus-ingest docstring
    points at: ``dropDuplicatesWithinWatermark`` keyed on content, with
    state evicted by an INGEST-time watermark (content keys have no event
    time of their own). Re-delivered docs arriving in later micro-batches
    fall inside the lateness horizon and are deduplicated exactly — the
    emitted key set equals the batch distinct."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "doc_chunks")
    n_chunks = 3
    for i in range(n_chunks):
        chunk = docs.filter(F.col("doc_id") % n_chunks == i)
        if i > 0:  # cross-batch redelivery
            chunk = chunk.unionByName(
                docs.filter(F.col("doc_id") % n_chunks == 0)
            )
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{src}/c{i}")
    import glob as _glob
    import os as _os
    import time as _time

    flat = str(tmp_path / "docs_flat")
    _os.makedirs(flat)
    for i in range(n_chunks):
        (part,) = _glob.glob(f"{src}/c{i}/part-*.parquet")
        _os.link(part, f"{flat}/chunk-{i:03d}.parquet")
        mtime = _time.time() - (n_chunks - i) * 10
        _os.utime(f"{flat}/chunk-{i:03d}.parquet", (mtime, mtime))

    stream = (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", "1 hour")
        .select("source", F.md5("text").alias("h"), "ingest_ts")
    )
    out = jobs._run_to_memory(
        stream.dropDuplicatesWithinWatermark(["source", "h"]).select(
            "source", "h"
        )
    )
    expect = docs.select("source", F.md5("text").alias("h")).distinct()
    assert _rows(out) == _rows(expect)


def test_sessionizer_state_bounded_multibatch(spark, duck, tmp_path):
    """VERDICT r01 #5: the custom sessionizer folds arrivals into open-
    session aggregates (state = O(open sessions), not O(events)) and
    re-registers its timer after partial emission — so a multi-batch
    replay (one time-ordered chunk file per micro-batch) emits sessions
    incrementally as the watermark advances and still matches the
    gaps-and-islands oracle exactly."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.sources.trips import load_events

    ev = load_events(spark, SF_DIR)
    lo, hi = ev.agg(
        F.expr("min(ts) DIV 1000000"), F.expr("max(ts) DIV 1000000")
    ).collect()[0]
    src = str(tmp_path / "events_chunks")
    n_chunks = 4
    step = (hi - lo) // n_chunks + 1
    for i in range(n_chunks):  # time-ordered chunk files => in-order batches
        chunk = ev.filter(
            (F.expr("ts DIV 1000000") >= lo + i * step)
            & (F.expr("ts DIV 1000000") < lo + (i + 1) * step)
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{src}/c{i}")
    import glob as _glob
    import os as _os
    import time as _time

    flat = str(tmp_path / "events_flat")
    _os.makedirs(flat)
    for i in range(n_chunks):
        (part,) = _glob.glob(f"{src}/c{i}/part-*.parquet")
        _os.link(part, f"{flat}/chunk-{i:03d}.parquet")
        mtime = _time.time() - (n_chunks - i) * 10
        _os.utime(f"{flat}/chunk-{i:03d}.parquet", (mtime, mtime))

    stream = (
        spark.readStream.schema(jobs.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
        .withColumn("ts_t", F.timestamp_micros(F.expr("ts DIV 1000")))
    )
    out = jobs._run_to_memory(jobs.sessionize_events_stream(stream))
    oracle = duck.execute(jobs.STATEFUL_SESSIONIZE_SQL).fetchall()
    assert _rows(out) == sorted(tuple(r) for r in oracle)


def test_replay_wire_roundtrip(spark, tmp_path):
    """replay -> JSON wire chunks -> from_json ingestion reproduces the
    derived trips (S2 deserialization == M4 serialization inverse)."""
    out = str(tmp_path / "wire")
    n = replay.replay(spark, SF_DIR, out, adapt="ORIGINAL")
    derived = trips_mod.derive_trips(spark, SF_DIR)
    assert n == derived.count()

    stream = jobs.q1_from_wire(spark, out)
    batch = taxi.q1_pickup_count(spark, SF_DIR)
    max_ms = (
        trips_mod.clean_trips(spark, SF_DIR)
        .agg({"dropoff_ms": "max"})
        .collect()[0][0]
    )
    assert _rows(stream) == _rows(batch.filter(batch["timestamp"] < max_ms))


def test_malformed_wire_rows_skipped(spark, tmp_path):
    """S5: unparseable lines are skipped, unknown types ignored (P1)."""
    out = str(tmp_path / "wire2")
    os.makedirs(out)
    good = {
        "type": "trip", "trip_id": 1,
        "pickup_datetime": "2024-01-01T00:00:00.000Z",
        "dropoff_datetime": "2024-01-01T00:05:00.000Z",
        "pickup_lat": 40.7566, "pickup_lon": -73.9863,
        "dropoff_lat": 40.7566, "dropoff_lon": -73.9863,
        "total_amount": 10.0,
    }
    good2 = dict(good, trip_id=2)
    wm = {"type": "watermark", "watermark": "2024-01-01T00:10:00.000Z"}
    later = dict(good, trip_id=3,
                 dropoff_datetime="2024-01-01T00:25:00.000Z")
    with open(out + "/chunk-0.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write(json.dumps(good2) + "\n")
        f.write("this is not json{{{\n")
        f.write(json.dumps(wm) + "\n")
        f.write(json.dumps(later) + "\n")
    res = jobs.q1_from_wire(spark, out)
    rows = _rows(res)
    # the two good trips form one window group of 2 (>= threshold), closed
    # by the later trip advancing the watermark; malformed + watermark rows
    # contribute nothing
    assert rows == [("dr5ru7", 2, 1704067799999)]


def test_gzip_wire_ingestion_transparent_decompression(spark, tmp_path):
    """S4: the reference auto-detects compressed input objects
    (kinesis-taxi-stream-producer/.../TaxiEventReader.java:108-118 wraps
    the S3 stream in a codec by extension); Spark's text source does the
    same through the Hadoop codec registry — a .json.gz wire chunk streams
    identically to the plain-text one, malformed-row skipping included."""
    import gzip

    out = str(tmp_path / "wire_gz")
    os.makedirs(out)
    base = {
        "type": "trip",
        "pickup_lat": 40.7566, "pickup_lon": -73.9863,
        "dropoff_lat": 40.7566, "dropoff_lon": -73.9863,
        "total_amount": 1.0,
    }

    def trip(i, drop):
        return json.dumps(dict(
            base, trip_id=i,
            pickup_datetime="2024-01-01T00:00:00.000Z",
            dropoff_datetime=drop,
        ))

    payload = "\n".join([
        trip(1, "2024-01-01T00:01:00.000Z"),
        trip(2, "2024-01-01T00:02:00.000Z"),
        "corrupted non-json line {{{",
        trip(3, "2024-01-01T00:25:00.000Z"),
    ]) + "\n"
    with gzip.open(out + "/chunk-0.json.gz", "wt") as f:
        f.write(payload)

    # streaming path: transparent decompress -> parse -> clean -> window
    res = _rows(jobs.q1_from_wire(spark, out))
    assert res == [("dr5ru7", 2, 1704067799999)]

    # batch path decompresses transparently too (same codec registry)
    assert spark.read.text(out).count() == 4


def test_snappy_framed_codec_roundtrip():
    """S4: the snappy framing format codec (the reference dataset's .snz
    codec, TaxiEventReader.java:108-118 + StreamPopulator.java:104) —
    encode/decode round trip with CRC-32C verification, skippable-chunk
    tolerance, and hard errors on corrupt streams."""
    from flink_stream_processing_refarch_spark.sources import compression as C

    data = b"line one\nline two\n" * 5000  # > one 64 KiB chunk
    enc = C.encode_snappy_framed(data)
    assert enc.startswith(b"\xff\x06\x00\x00sNaPpY")
    assert len(enc) < len(data) // 2  # actually compressed
    assert C.decode_snappy_framed(enc, verify=True) == data

    # skippable padding chunk (0xfe) is ignored mid-stream
    padded = enc[:10] + b"\xfe\x03\x00\x00abc" + enc[10:]
    assert C.decode_snappy_framed(padded, verify=True) == data

    # corrupt payload byte -> CRC failure under verify
    corrupt = bytearray(enc)
    corrupt[-1] ^= 0xFF
    with pytest.raises(ValueError):
        C.decode_snappy_framed(bytes(corrupt), verify=True)

    # auto-detection: snz, gzip, plain
    import gzip as _gzip

    assert C.maybe_decompress(enc) == data
    assert C.maybe_decompress(_gzip.compress(data)) == data
    assert C.maybe_decompress(b"just plain text") == b"just plain text"


def test_read_text_auto_mixed_codecs(spark, tmp_path):
    """S4 batch path: one directory mixing plain / .gz / .snz text files
    reads as a single line stream (executor-side decompress)."""
    import gzip as _gzip

    from flink_stream_processing_refarch_spark.sources import compression as C

    d = tmp_path / "mixed"
    os.makedirs(d)
    payload = ("\n".join(f"line-{i}" for i in range(100)) + "\n").encode()
    (d / "a.json").write_bytes(payload)
    (d / "b.json.gz").write_bytes(_gzip.compress(payload))
    (d / "c.json.snz").write_bytes(C.encode_snappy_framed(payload))
    df = C.read_text_auto(spark, str(d))
    assert df.count() == 300
    assert df.distinct().count() == 100


def test_snz_wire_replay_end_to_end(spark, tmp_path):
    """S4 end to end: replay writes snappy-framed wire chunks, the
    auto-decompress ingest path replays them through Q1 with results
    identical to the plain-text path."""
    from pyspark.sql import functions as F

    plain, snz = str(tmp_path / "plain"), str(tmp_path / "snz")
    n1 = replay.replay(spark, SF_DIR, plain, adapt="ORIGINAL")
    n2 = replay.replay(spark, SF_DIR, snz, adapt="ORIGINAL", compress="snz")
    assert n1 == n2
    assert glob.glob(snz + "/*.json.snz") and not glob.glob(snz + "/*[!z]")

    def q1(src, **kw):
        trips = jobs.stream_trips_from_wire(spark, src, **kw)
        return jobs._run_to_memory(jobs.q1_agg_from_trips(trips))

    expected = _rows(q1(plain))
    assert expected  # non-degenerate
    assert _rows(q1(snz, auto_decompress=True)) == expected


def test_checkpoint_recovery_resumes_with_state(spark, tmp_path):
    """A6: a restart from the same checkpoint resumes the source offset
    AND the window state — already-emitted windows are not re-emitted,
    and a window spanning the stop/restart boundary still counts rows
    from before the restart."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.functions import geo

    out = str(tmp_path / "wire5")
    os.makedirs(out)
    base = {
        "type": "trip",
        "pickup_lat": 40.7566, "pickup_lon": -73.9863,
        "dropoff_lat": 40.7566, "dropoff_lon": -73.9863,
        "total_amount": 1.0,
    }

    def trip(i, drop):
        return json.dumps(dict(
            base, trip_id=i,
            pickup_datetime="2024-01-01T00:00:00.000Z",
            dropoff_datetime=drop,
        ))

    def q1_agg(src):
        trips = jobs.stream_trips_from_wire(spark, src)
        trips = geo.with_geohash(trips, "location", "pickup_lat", "pickup_lon", 6)
        return (
            trips.groupBy(F.window("dropoff_ts", "10 minutes"), "location")
            .agg(F.count("*").alias("pickup_count"))
            .filter(F.col("pickup_count") >= 2)
            .select(
                "location",
                "pickup_count",
                (F.unix_millis("window.end") - 1).alias("timestamp"),
            )
        )

    def run(src, ckpt, sink):
        # file sink: the one sink whose commit log supports restart
        # (memory sink refuses checkpoint recovery by design)
        q = (
            q1_agg(src)
            .writeStream.format("parquet")
            .outputMode("append").option("checkpointLocation", ckpt)
            .option("path", sink)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return _rows(spark.read.parquet(sink))

    # chunk 0: two trips close the 00:00 window once 00:12 advances the
    # watermark; 00:12 itself stays in the open 00:10 window's state
    with open(out + "/chunk-0.json", "w") as f:
        f.write(trip(1, "2024-01-01T00:01:00.000Z") + "\n")
        f.write(trip(2, "2024-01-01T00:02:00.000Z") + "\n")
        f.write(trip(3, "2024-01-01T00:12:00.000Z") + "\n")
    ckpt = str(tmp_path / "ckpt_recovery")
    sink = str(tmp_path / "sink_recovery")
    w1 = ("dr5ru7", 2, 1704067799999)   # 00:00-00:10 window, end-1ms
    assert run(out, ckpt, sink) == [w1]

    # chunk 1 arrives after the "crash": two more trips in the 00:10
    # window plus one at 00:25 to push the watermark past its end
    with open(out + "/chunk-1.json", "w") as f:
        f.write(trip(4, "2024-01-01T00:13:00.000Z") + "\n")
        f.write(trip(5, "2024-01-01T00:14:00.000Z") + "\n")
        f.write(trip(6, "2024-01-01T00:25:00.000Z") + "\n")
    # restart against the SAME checkpoint + sink: the 00:10 window count
    # of 3 includes the pre-restart 00:12 row (recovered state), and the
    # already-emitted 00:00 window appears exactly once (no reprocess)
    w2 = ("dr5ru7", 3, 1704068399999)   # 00:10-00:20 window
    assert run(out, ckpt, sink) == sorted([w1, w2])

    # equivalence: a single uninterrupted run over both chunks emits
    # exactly the same result
    single = run(
        out, str(tmp_path / "ckpt_single"), str(tmp_path / "sink_single")
    )
    assert single == sorted([w1, w2])


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """A4 semantics: with per-file micro-batches, a row older than the
    watermark is dropped; the same data in one batch keeps it."""
    out = str(tmp_path / "wire3")
    os.makedirs(out)
    t = {
        "type": "trip",
        "pickup_lat": 40.7566, "pickup_lon": -73.9863,
        "dropoff_lat": 40.7566, "dropoff_lon": -73.9863,
        "total_amount": 1.0,
    }

    def trip(i, drop):
        return json.dumps(dict(
            t, trip_id=i,
            pickup_datetime="2024-01-01T00:00:00.000Z",
            dropoff_datetime=drop,
        ))

    import time as _t
    with open(out + "/a-chunk-0.json", "w") as f:
        # two trips in window [01:00, 01:10) + one at 01:10:05 that pushes
        # the watermark past the window end
        f.write(trip(1, "2024-01-01T01:00:01.000Z") + "\n")
        f.write(trip(2, "2024-01-01T01:00:02.000Z") + "\n")
        f.write(trip(3, "2024-01-01T01:10:05.000Z") + "\n")
    _t.sleep(1.1)  # file source orders batches by modification time
    with open(out + "/b-chunk-1.json", "w") as f:
        # Spark's late-event watermark lags the eviction watermark by one
        # micro-batch; this batch lets it catch up (and evicts the closed
        # [01:00, 01:10) window, emitting count 2)
        f.write(trip(5, "2024-01-01T01:20:00.000Z") + "\n")
    _t.sleep(1.1)
    with open(out + "/c-chunk-2.json", "w") as f:
        # trip 4 targets the CLOSED [01:00, 01:10) window -> dropped
        f.write(trip(4, "2024-01-01T01:00:06.000Z") + "\n")
        f.write(trip(6, "2024-01-01T01:30:00.000Z") + "\n")

    res = _rows(jobs.q1_from_wire(spark, out, maxFilesPerTrigger="1"))
    # streaming: window [01:00, 01:10) emits count 2 (late trip 4 dropped);
    # a batch run over the same rows would count 3. All other windows hold
    # single trips and are suppressed by the HAVING threshold.
    win_end = 1704067200000 + 70 * 60 * 1000  # 01:10:00Z
    assert res == [("dr5ru7", 2, win_end - 1)]


def test_decontaminate_streaming_multibatch(spark, duck, tmp_path):
    """The streaming decontamination gate over THREE arriving document
    chunk files with maxFilesPerTrigger=1: the gate is stateless, so
    each micro-batch's clean docs append independently, and the union of
    all batches equals the batch oracle (clean training docs only)."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.operators.contamination import (
        EVAL_MOD,
        eval_shingle_array,
    )
    from flink_stream_processing_refarch_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "chunks")
    n_chunks = 3
    for i in range(n_chunks):
        docs.filter(F.col("doc_id") % n_chunks == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/c{i}")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i in range(n_chunks):
        (part,) = glob.glob(f"{src}/c{i}/part-*.parquet")
        os.link(part, f"{flat}/chunk-{i:03d}.parquet")

    ev = eval_shingle_array(docs)
    stream = (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    out = jobs._run_to_memory(
        jobs.decontaminate_gate(stream, ev), use_rocksdb=False
    )
    oracle = duck.execute(jobs.ORACLES["decontaminate_streaming"]).fetchall()
    assert _rows(out) == sorted(tuple(r) for r in oracle)
    # the gate must actually drop something: contaminated training docs
    # exist by construction of the synthetic corpus
    n_training = docs.filter(F.col("doc_id") % EVAL_MOD != 0).count()
    assert out.count() < n_training


def test_streaming_dedup_multibatch_semantics_pinned(spark):
    """ADVICE r05: the registry's streaming_dedup replays WITHOUT
    maxFilesPerTrigger (single micro-batch), which is what makes
    dropDuplicatesWithinWatermark oracle-equal to batch DISTINCT. This
    pin documents the multi-batch shape: with the source split into
    ~2 batches (half_source_files) and a 0-second horizon, keys whose
    occurrences span the batch boundary MAY re-emit after their state
    is evicted — so the emitted key SET still equals the batch
    distinct while the emitted row count may exceed it.

    Two distinct late-row mechanisms hide behind that (ADVICE r06 —
    dropDuplicatesWithinWatermark filters BELOW-watermark rows as late
    FIRST, then dedups against surviving state): (a) a row whose event
    time is at-or-below the watermark is DROPPED outright — losing
    nothing here only because every such event time was necessarily
    seen before the watermark passed it, i.e. its key already emitted
    (test_corpus_ingest pins this drop path directly); (b) a row ABOVE
    the watermark whose key's state was already evicted RE-ADMITS —
    the duplicate-emission path this test's count assertion observes.
    The set-equality + count >= assertions below hold under both and
    cannot attribute which fired; the batch split here exercises (b)
    (chunk boundaries move the watermark between batches, and the
    second batch's rows carry later event times). If a future round
    makes the registry entry multi-batch the way heavy_hitters/quantile
    were, this is the contract to reconcile with the oracle first."""
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.sources.trips import (
        load_events,
    )

    mfpt = jobs.half_source_files(spark, SF_DIR)
    ev = jobs.stream_events(
        spark, SF_DIR, maxFilesPerTrigger=mfpt
    ).withColumn("ts_t", F.timestamp_micros(F.expr("ts DIV 1000")))
    out = jobs._run_to_memory(jobs.streaming_dedup_from_events(ev))
    got = [tuple(r) for r in out.collect()]
    distinct = set(
        tuple(r)
        for r in load_events(spark, SF_DIR)
        .select(
            "user_id",
            "event_type",
            F.expr(
                "(ts DIV 1000000) - (ts DIV 1000000) % 60000"
            ).alias("minute_ms"),
        )
        .distinct()
        .collect()
    )
    assert set(got) == distinct  # no key lost across the split
    assert len(got) >= len(distinct)  # re-emission is the allowed excess


def test_winnow_streaming_multibatch_equals_batch(spark, tmp_path):
    """Fingerprinting-at-ingest is stateless, so ANY micro-batch split
    of the document stream emits exactly the batch extraction."""
    import glob as _glob
    import os as _os

    from flink_stream_processing_refarch_spark.operators import dedup
    from flink_stream_processing_refarch_spark.schemas import load_table

    docs = load_table(spark, SF_DIR, "documents")
    flat = str(tmp_path / "docs_flat")
    _os.makedirs(flat)
    for i in range(3):
        docs.filter(docs.doc_id % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/c{i}")
        (part,) = _glob.glob(f"{tmp_path}/c{i}/part-*.parquet")
        _os.link(part, f"{flat}/chunk-{i:03d}.parquet")
    stream = (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    out = jobs._run_to_memory(
        dedup.winnow_fps_from_docs(stream), use_rocksdb=False
    )
    assert _rows(out) == _rows(dedup.q_winnow_fingerprints(spark, SF_DIR))


def test_quality_funnel_streaming_equals_batch(spark):
    """The complete-mode running funnel's end state must land on
    exactly the batch aggregate (the gate flags are stateless scan
    expressions; the survival counts are associative sums)."""
    from flink_stream_processing_refarch_spark.operators import text
    from flink_stream_processing_refarch_spark.streaming import jobs

    batch = {
        tuple(r) for r in text.q_quality_funnel(spark, SF_DIR).collect()
    }
    stream = {
        tuple(r)
        for r in jobs.q_quality_funnel_streaming(spark, SF_DIR).collect()
    }
    assert stream == batch
    assert len(stream) > 0


def test_replay_chunk_mtimes_monotone_and_multibatch_correct(spark, tmp_path):
    """Review finding r07 (confirmed: 105 of 301 result rows): the
    single-pass staging preserved arbitrary task-commit mtimes through
    the rename, and Spark's file source consumes files in MODIFICATION-
    TIME order — out-of-order chunks advanced the 0-second watermark
    and earlier chunks were dropped wholesale. replay() must emit
    chunk files with mtimes strictly increasing in event-time order,
    and a one-file-per-trigger consumer must then match the batch
    result exactly."""
    import glob as _glob
    import os as _os

    out = str(tmp_path / "wire")
    # ADVICE r07: a file already in the watched dir with a real
    # wall-clock mtime (another producer, a manual copy) must sort
    # BEFORE every replayed chunk — idx-since-epoch stamps put all
    # chunks in 1970 and any such file after them.
    _os.makedirs(out)
    foreign = out + "/zz-foreign.json"
    with open(foreign, "w"):
        pass
    replay.replay(spark, SF_DIR, out, adapt="ORIGINAL")
    chunks = sorted(_glob.glob(out + "/chunk-*.json"))
    assert len(chunks) > 2
    mtimes = [_os.stat(p).st_mtime_ns for p in chunks]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert min(mtimes) > _os.stat(foreign).st_mtime_ns
    # a SECOND replay into the same dir anchors above the first one's
    # chunks (no reset to the same stamps)
    replay.replay(spark, SF_DIR, out, adapt="ORIGINAL")
    mtimes2 = [
        _os.stat(p).st_mtime_ns
        for p in sorted(_glob.glob(out + "/chunk-*.json"))
    ]
    assert min(mtimes2) > max(mtimes)
    _os.remove(foreign)

    res = _rows(jobs.q1_from_wire(spark, out, maxFilesPerTrigger="1"))
    batch = taxi.q1_pickup_count(spark, SF_DIR)
    max_ms = (
        trips_mod.clean_trips(spark, SF_DIR)
        .agg({"dropoff_ms": "max"})
        .collect()[0][0]
    )
    from pyspark.sql import functions as F_

    expected = sorted(
        tuple(r)
        for r in batch.filter(
            (F_.col("timestamp") + 1) <= max_ms
        ).collect()
    )
    assert res == expected
