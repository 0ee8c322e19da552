"""Streaming scaling decade: bounded-state evidence for the streaming
family (VERDICT r04 next-round item 6).

The batch decades (SCALING.md, SCALING_DECADE2.md) measure wall/shuffle
growth; the streaming claims are about STATE: sketch-, bin-, or
watermark-window-sized, never input-sized. The driver's sf dirs can't
test that — every SF spans the same 30 days, so more data = higher
RATE, and rate legitimately grows watermark-bounded state. This harness
builds the stream shape the claims are about: a LONGER stream at
CONSTANT rate and constant key population — K time-shifted replicas of
the driver's sf0.1 events (ts += k * 32 days, event_id offset per
replica, user_id/value untouched), one part file per replica, processed
in time order — one replica per micro-batch for the watermark-bounded
operators (constant per-batch event-time span at every scale), ~8-10
batches for the complete-mode sketches. A 10x longer stream then must
show FLAT max state for every bounded-state operator; growth would
mean state leaks with history.

Measured per query at sf1 (1M events) and sf10 (10M): input rows, max
state rows across micro-batches (the peak the state store must hold),
cumulative evicted rows (watermark cleanup actually firing), wall.
The operators measured are the REGISTRY plans via their source-agnostic
``*_from_events`` builders (streaming/jobs.py) — only the file-source
plumbing is harness-level.

corpus_ingest_streaming runs over the batch-decade corpora
(/dev/shm/graft_sf{1,10} from tools/make_scale_data.py) because its
source is documents, not events; its two state operators are reported
separately — the running-totals agg state must stay |sources|-flat; the
dropDuplicates state is documented input-sized in the bounded demo
(the dropDuplicatesWithinWatermark swap note in its docstring), and on
THIS corpus its flat reading is additionally a data artifact (the
word-suffixed replicas fail the stopword quality gate — see the
honesty caveat in the output md).

Run: python tools/scale_streaming.py   (writes SCALING_STREAMING.md)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from flink_stream_processing_refarch_spark.operators import (  # noqa: E402
    selection,
    sketches,
)
from flink_stream_processing_refarch_spark.plans import relational  # noqa: E402
from flink_stream_processing_refarch_spark.session import get_spark  # noqa: E402
from flink_stream_processing_refarch_spark.streaming import jobs  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT_BASE = "/dev/shm/graft_stream"
SHIFT_NS = 32 * 24 * 3600 * 1_000_000_000  # 32 days, > the 30-day span
SCALES = {"sf1": 10, "sf10": 100}
DOCS_DIRS = {"sf1": "/dev/shm/graft_sf1", "sf10": "/dev/shm/graft_sf10"}


def build_events(scale: str, replicas: int) -> str:
    out = f"{OUT_BASE}_{scale}/events.parquet"
    done = f"{OUT_BASE}_{scale}/.done"
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(f"{SRC}/events.parquet")
    ts = t.column("ts").cast(pa.int64())  # micros (or nanos) since epoch
    # normalize to nanos: the driver has generated both layouts
    unit = t.schema.field("ts").type
    mult = 1000 if getattr(unit, "unit", None) == "us" else 1
    ts_ns = pc.multiply(ts, mult)
    eid = t.column("event_id").cast(pa.int64())
    for k in range(replicas):
        cols = {}
        for name in t.schema.names:
            if name == "ts":
                cols[name] = pc.add(ts_ns, k * SHIFT_NS)
            elif name == "event_id":
                cols[name] = pc.add(eid, k * 10_000_000)
            else:
                cols[name] = t.column(name)
        pq.write_table(pa.table(cols), f"{out}/part-{k:03d}.parquet")
        # strictly increasing mtimes -> the file source processes
        # replicas in time order, so the watermark advances monotonically
        os.utime(f"{out}/part-{k:03d}.parquet", ns=(k * 10**9, k * 10**9))
    with open(done, "w") as f:
        f.write("ok")
    return out


def run_stream(spark, df, output_mode: str):
    """availableNow -> noop sink; returns (wall, input_rows, progresses)."""
    import tempfile

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(jobs.STREAM_STATE_PARTITIONS)
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_scale_", dir="/dev/shm")
    t0 = time.time()
    try:
        q = (
            df.writeStream.format("noop")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        progs = [p for p in q.recentProgress if p is not None]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    rows_in = sum(
        int(s.get("numInputRows", 0))
        for p in progs
        for s in p.get("sources", [])
    )
    return wall, rows_in, progs


def state_metrics(progs) -> list[dict]:
    """Per state operator: peak numRowsTotal across batches + total
    evictions."""
    ops: dict[int, dict] = {}
    for p in progs:
        for i, so in enumerate(p.get("stateOperators", [])):
            d = ops.setdefault(
                i, {"name": so.get("operatorName", f"op{i}"), "peak": 0,
                    "removed": 0}
            )
            d["peak"] = max(d["peak"], int(so.get("numRowsTotal", 0)))
            d["removed"] += int(so.get("numRowsRemoved", 0))
    return [ops[i] for i in sorted(ops)]


def events_stream(spark, events_dir: str, n_files: int, mfpt: int | None = None):
    """mfpt=None -> ~8-10 micro-batches (fine for complete-mode sketches,
    whose state is constant regardless of batch span). Watermark-bounded
    operators are measured at mfpt=1 — CONSTANT batch event-time span at
    both scales (a 10x longer stream = 10x MORE batches, same per-batch
    span), because their state bound is O(rate x window/horizon): holding
    the batch COUNT constant instead would grow each batch's span 10x
    and measure that artifact, not the operator."""
    schema = spark.read.parquet(events_dir).schema
    if mfpt is None:
        mfpt = max(1, n_files // 8)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(mfpt))
        .parquet(events_dir)
    )


def with_ts(ev):
    return ev.withColumn("ts_t", F.timestamp_micros(F.expr("ts DIV 1000")))


def docs_stream(spark, docs_dir: str, n_files: int):
    mfpt = max(1, n_files // 8)
    return (
        spark.readStream.schema(jobs.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(mfpt))
        .parquet(docs_dir)
    )


def main() -> None:
    spark = get_spark("scale_streaming")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    results: dict[str, dict[str, dict]] = {}
    for scale, replicas in SCALES.items():
        events_dir = build_events(scale, replicas)
        mk = lambda: events_stream(spark, events_dir, replicas)  # noqa: E731
        mk1 = lambda: events_stream(  # noqa: E731
            spark, events_dir, replicas, mfpt=1
        )

        cases = {
            "heavy_hitters_streaming": (
                sketches.cms_cells(mk()), "complete"),
            "quantile_histogram_streaming": (
                sketches.cents_histogram(mk()), "complete"),
            "streaming_dedup": (
                jobs.streaming_dedup_from_events(with_ts(mk1())), "append"),
            "session_windows_streaming": (
                relational.session_windows(with_ts(mk1())), "append"),
            "stream_stream_join": (
                jobs.stream_stream_join_from_events(
                    with_ts(mk1()), with_ts(mk1())), "append"),
            "stream_stream_left_join": (
                jobs.stream_stream_left_join_from_events(
                    with_ts(mk1()), with_ts(mk1())), "append"),
        }
        docs_dir = f"{DOCS_DIRS[scale]}/documents.parquet"
        if os.path.isdir(docs_dir):
            n_doc_files = len(
                [f for f in os.listdir(docs_dir) if f.endswith(".parquet")]
            )
            # mfpt=1 (one replica per batch), like the other
            # watermark-bounded operators: the dedup horizon is per-batch
            # event-time span, which this holds CONSTANT across scales
            cases["corpus_ingest_streaming"] = (
                jobs.corpus_ingest_from_stream(
                    spark.readStream.schema(jobs.DOCS_SCHEMA)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(docs_dir)
                ),
                "complete",
            )
            cases["source_drift_streaming"] = (
                selection.drift_cells(
                    docs_stream(spark, docs_dir, n_doc_files)
                ),
                "complete",
            )
        for name, (df, mode) in cases.items():
            wall, rows_in, progs = run_stream(spark, df, mode)
            ops = state_metrics(progs)
            results.setdefault(name, {})[scale] = {
                "wall": round(wall, 2),
                "rows_in": rows_in,
                "batches": len(
                    [p for p in progs if p.get("batchId") is not None]
                ),
                "state": ops,
            }
            print(name, scale, results[name][scale], flush=True)
    write_md(results)


def write_md(results: dict) -> None:
    lines = [
        "# SCALING_STREAMING — bounded-state evidence, sf1 -> sf10",
        "",
        "Generated by `tools/scale_streaming.py`. Stream shape: constant",
        "rate, constant key population, 10x LONGER event-time span (K",
        "time-shifted replicas of the driver's sf0.1 events, processed in",
        "time order — one replica per micro-batch for watermark-bounded",
        "operators, so per-batch event-time span is CONSTANT across",
        "scales; ~8-10 batches for complete-mode sketches). Peak state =",
        "max",
        "numRowsTotal over all micro-batches per state operator — the",
        "high-water mark the state store must hold; evicted = cumulative",
        "numRowsRemoved (watermark cleanup firing). A bounded-state",
        "operator must show FLAT peak state under a 10x longer stream.",
        "",
        "| query | state operator | input rows sf1 -> sf10 | peak state"
        " sf1 -> sf10 | state x | evicted sf1 / sf10 | wall sf1 -> sf10 |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, scales in results.items():
        s1, s10 = scales.get("sf1"), scales.get("sf10")
        if not s1 or not s10:
            continue
        for i, op1 in enumerate(s1["state"]):
            op10 = s10["state"][i] if i < len(s10["state"]) else None
            if op10 is None:
                continue
            factor = (
                round(op10["peak"] / op1["peak"], 2)
                if op1["peak"]
                else float("nan")
            )
            lines.append(
                f"| {name} | {op1['name']} | {s1['rows_in']:,} -> "
                f"{s10['rows_in']:,} | {op1['peak']:,} -> {op10['peak']:,} "
                f"| {factor}x | {op1['removed']:,} / {op10['removed']:,} "
                f"| {s1['wall']}s -> {s10['wall']}s |"
            )
    lines += [
        "",
        "Notes: 'input rows' sums numInputRows over the progress events",
        "Spark retains (last ~100); runs with >100 micro-batches",
        "under-report input slightly — peak state and evictions are",
        "unaffected at the peak. Complete-mode sketches never evict by",
        "design: their state IS the bounded result.",
        "corpus_ingest_streaming (r06): dedup is now",
        "dropDuplicatesWithinWatermark on the doc_id-derived ingest time",
        "(streaming/jobs.py corpus_ingest_from_stream), replayed one",
        "replica per micro-batch over the r06 stopword-preserving scale",
        "corpus — every replica passes the quality gate now (the r05",
        "corpus suffixed stopwords too, so only replica 0 was admitted",
        "and the old flat reading was a data artifact). Its",
        "dedupeWithinWatermark row must show peak state ~ one replica's",
        "kept (source, hash) keys — FLAT across a 10x longer stream —",
        "with cumulative evictions ~ total kept docs (the watermark",
        "clearing each batch's keys as the next replica advances it).",
        "The |sources| agg row stays flat at 20 by construction.",
        "streaming_dedup's flat peak is the r05 fix landing: with",
        "plain dropDuplicates this same harness measured 10x-input-sized",
        "state and ZERO evictions (state = full key history);",
        "dropDuplicatesWithinWatermark holds one batch-horizon of keys",
        "and evicts ~the whole input. The join peaks are the",
        "interval-window content (views held 6h past the watermark + the",
        "purchase batch), constant across a 10x longer stream; the left",
        "join evicts fewer rows because null-extended views emit (and",
        "clear) only at watermark advance. source_drift_streaming's",
        "growth toward 5,120 is the state FILLING its hard cap, not",
        "leaking: the cap is exactly |sources| x 256 buckets = 5,120",
        "rows, which sf10 reaches (every source has touched every md5",
        "bucket) — more stream cannot add a row beyond it.",
    ]
    with open("/root/repo/SCALING_STREAMING.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALING_STREAMING.md")


if __name__ == "__main__":
    main()
