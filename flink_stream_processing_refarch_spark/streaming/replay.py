"""Replay tool — the producer side of the reference
(kinesis-taxi-stream-producer/.../StreamPopulator.java).

Reads a bounded trip dataset, optionally seeks past old events, shifts
event time (the three adaptTime modes), serializes to the reference's
snake_case JSON wire format, and emits paced micro-files that the file
streaming source consumes — the local stand-in for the KPL/Kinesis path
(swap a Kinesis producer in ``emit`` for prod).

Operator parity:
  - seek(timestamp)            StreamPopulator.java:113-115,
                               TaxiEventReader.java:52-70 -> a pushdown
                               filter on dropoff time (no line-jumping
                               needed; the scan prunes)
  - adaptTime ORIGINAL/INVOCATION/INGESTION
                               producer TripEvent.java:45-82,
                               AdaptTimeOption.java:18-22 -> column
                               arithmetic on both datetimes
  - JSON rewrite               producer TripEvent.java:58-82 -> to_json
                               after column edits (no string surgery)
  - newline framing            producer Event.java:28-35 -> text sink
                               appends newlines natively
  - speedup pacing             StreamPopulator.java:145-160 -> wall-clock
                               sleep between emitted chunks
  - watermark events           WatermarkTracker.java -> obsolete under
                               Spark watermarking (SURVEY.md §4.3); the
                               in-band rows are filtered by P1 if present
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.trips import derive_trips

# producer TripEvent.java:34 — the dataset's epoch for INVOCATION shift
REFERENCE_START_MS = 1704067200000

ADAPT_MODES = ("ORIGINAL", "INVOCATION", "INGESTION")

# Upper bound on rows a single replay chunk may relay through the driver
# (the pacing tool writes one file per chunk by design; see replay()).
MAX_CHUNK_ROWS = 2_000_000


def seek(trips: DataFrame, min_dropoff_ms: int) -> DataFrame:
    """Skip events before the target time (TaxiEventReader.seek). The
    reference jumps 10k lines at a time; a Spark filter on the scan column
    prunes row groups instead."""
    return trips.filter(F.col("dropoff_ms") >= F.lit(min_dropoff_ms))


def adapt_time(
    trips: DataFrame, mode: str, now_ms: int | None = None
) -> DataFrame:
    """The three time-adaptation modes (producer TripEvent.java:45-82).

    ORIGINAL: pass through. INVOCATION: shift both datetimes by
    (now - dataset_start), fixed at call time. INGESTION: shift each event
    so its dropoff equals 'now' (per-event delta, preserves duration).
    """
    if mode not in ADAPT_MODES:
        raise ValueError(f"unknown adaptTime mode: {mode}")
    if mode == "ORIGINAL":
        return trips
    now_ms = int(time.time() * 1000) if now_ms is None else now_ms
    if mode == "INVOCATION":
        delta = F.lit(now_ms - REFERENCE_START_MS)
        return trips.withColumn(
            "pickup_ms", F.col("pickup_ms") + delta
        ).withColumn("dropoff_ms", F.col("dropoff_ms") + delta)
    # INGESTION: dropoff := now, pickup shifted by the same per-event delta
    delta = F.lit(now_ms) - F.col("dropoff_ms")
    return trips.withColumn("pickup_ms", F.col("pickup_ms") + delta).withColumn(
        "dropoff_ms", F.col("dropoff_ms") + delta
    )


def to_wire_json(trips: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Serialize to the reference's JSON wire format (snake_case keys,
    ISO-8601 datetimes, a ``type`` discriminator — Event.java:30-33).
    ``keep`` carries extra routing columns (e.g. the chunk index)
    alongside ``value``."""
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    return trips.select(
        *[F.col(c) for c in keep],
        F.to_json(
            F.struct(
                F.col("type"),
                F.col("trip_id"),
                F.date_format(F.timestamp_millis("pickup_ms"), iso).alias(
                    "pickup_datetime"
                ),
                F.date_format(F.timestamp_millis("dropoff_ms"), iso).alias(
                    "dropoff_datetime"
                ),
                F.col("pickup_lat"),
                F.col("pickup_lon"),
                F.col("dropoff_lat"),
                F.col("dropoff_lon"),
                F.col("total_amount"),
            )
        ).alias("value")
    )


def replay(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    speedup: float = 6480.0,  # StreamPopulator.java:107 default
    adapt: str = "ORIGINAL",
    seek_ms: int | None = None,
    chunk_seconds: int = 600,
    max_chunks: int | None = None,
    pace: bool = False,
    compress: str | None = None,
) -> int:
    """Replay the derived trip stream into ``out_dir`` as newline JSON
    chunk files ordered by dropoff time, one chunk per ``chunk_seconds``
    of event time; sleeps event_time/speedup between chunks when ``pace``.

    ``compress="snz"`` writes snappy-framed chunks (the reference
    dataset's own codec — StreamPopulator.java:104 reads
    ``nyc-tlc-trips.snz``; S4 round trip with
    ``stream_trips_from_wire(auto_decompress=True)``); ``"gz"`` gzips.

    Returns the number of events written. The file-streaming source picks
    the chunks up in order, reproducing the Kinesis replay topology.

    Single source pass (r07, VERDICT r06 #8 — previously one full
    filter scan PER event-time chunk, O(chunks x scan)): the serialized
    stream is written ONCE, partitioned by chunk index
    (``repartition(chunk).write.partitionBy(chunk)`` — one task and one
    part file per chunk), into a staging dir; the paced loop then just
    RENAMES each chunk's file into ``out_dir`` in event-time order (or
    compresses it, for the codec variants), so pacing and the
    one-file-per-chunk contract are unchanged while the source is
    scanned exactly once. The MAX_CHUNK_ROWS guard survives as a
    per-chunk count check (counted from the staged files, not the
    source) — oversized chunks still mean "shrink chunk_seconds", now
    because a paced producer should not emit multi-GB wire files.
    """
    import glob as _glob
    import shutil
    import tempfile

    os.makedirs(out_dir, exist_ok=True)
    trips = derive_trips(spark, sf_dir)
    if seek_ms is not None:
        trips = seek(trips, seek_ms)
    trips = adapt_time(trips, adapt)
    bounds = trips.agg(
        F.min("dropoff_ms").alias("lo"), F.max("dropoff_ms").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return 0
    chunk_ms = chunk_seconds * 1000
    base = bounds["lo"] - bounds["lo"] % chunk_ms
    n_chunks = (bounds["hi"] - base) // chunk_ms + 1
    if max_chunks is not None:
        n_chunks = min(n_chunks, max_chunks)
    chunked = trips.withColumn(
        "chunk", F.expr(f"CAST((dropoff_ms - {base}) DIV {chunk_ms} AS INT)")
    ).filter(F.col("chunk") < n_chunks)
    # Stage on OUT_DIR's filesystem (a sibling dir, so the consumer's
    # listing never sees it): the staging write holds the WHOLE
    # serialized stream until the paced loop drains it, so it must not
    # sit in RAM-backed /dev/shm (review finding r07 — a wire corpus
    # larger than the tmpfs cap would ENOSPC mid-replay where the old
    # chunk-at-a-time writer was bounded by MAX_CHUNK_ROWS); same-fs
    # staging also makes the per-chunk move a true rename.
    staging = tempfile.mkdtemp(
        prefix="replay_stage_",
        dir=os.path.dirname(os.path.abspath(out_dir)) or None,
    )
    try:
        (
            to_wire_json(chunked, keep=("chunk",))
            .repartition("chunk")
            .write.partitionBy("chunk")
            .mode("overwrite")
            .text(staging)
        )
        # per-chunk counts from the STAGED files (not a second source scan)
        counts = {
            r["chunk"]: r["n"]
            for r in spark.read.text(staging)
            .groupBy("chunk")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        over = {c: n for c, n in counts.items() if n > MAX_CHUNK_ROWS}
        if over:
            c = min(over)
            raise ValueError(
                f"replay chunk at {base + c * chunk_ms} exceeds "
                f"{MAX_CHUNK_ROWS} rows; reduce chunk_seconds"
            )
        n_total = 0
        # mtime anchor (ADVICE r07): chunk mtimes must be strictly
        # increasing in chunk order AND newer than anything already in
        # out_dir (a second replay into the same dir, or a file another
        # producer dropped there, must not sort after the new chunks and
        # re-trigger the out-of-order late-drop bug the idx-since-epoch
        # stamps reintroduced). Anchor = max(now, newest existing mtime)
        # + 1s; chunk idx offsets from there.
        existing = [
            os.stat(os.path.join(out_dir, f)).st_mtime_ns
            for f in os.listdir(out_dir)
            if os.path.isfile(os.path.join(out_dir, f))
        ]
        anchor_ns = max(
            [int(time.time() * 1e9)] + existing
        ) + 1_000_000_000
        for idx in range(n_chunks):
            parts = sorted(
                _glob.glob(os.path.join(staging, f"chunk={idx}", "part-*"))
            )
            parts = [p for p in parts if not p.endswith(".crc")]
            if parts:
                name = f"chunk-{idx:06d}.json"
                dest = os.path.join(out_dir, name)
                if compress is None and len(parts) == 1:
                    shutil.move(parts[0], dest)  # zero-copy rename
                else:
                    payload = b"".join(open(p, "rb").read() for p in parts)
                    if compress == "snz":
                        from ..sources.compression import (
                            encode_snappy_framed,
                        )

                        payload, dest = (
                            encode_snappy_framed(payload),
                            dest + ".snz",
                        )
                    elif compress == "gz":
                        import gzip

                        payload, dest = gzip.compress(payload), dest + ".gz"
                    elif compress is not None:
                        raise ValueError(
                            f"unknown compress codec: {compress!r}"
                        )
                    with open(dest, "wb") as f:
                        f.write(payload)
                # Strictly increasing mtimes in chunk order: Spark's
                # file streaming source consumes files in MODIFICATION-
                # TIME order (verified on 4.1), and a staged part file
                # keeps its arbitrary task-commit mtime through the
                # rename — without this, chunks replay out of event-time
                # order and a 0-second-watermark consumer silently drops
                # whole earlier chunks as late (review finding r07,
                # reproduced: 105 of 301 result rows). Anchored to
                # recent wall-clock (see anchor_ns above).
                t = anchor_ns + idx * 1_000_000_000
                os.utime(dest, ns=(t, t))
                n_total += counts.get(idx, 0)
            if pace and speedup > 0:
                time.sleep(chunk_ms / 1000.0 / speedup)
        return n_total
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def main(argv: list[str] | None = None) -> None:
    """Producer CLI — StreamPopulator.main parity
    (kinesis-taxi-stream-producer/.../StreamPopulator.java:88-115):

      reference flag                      here
      --------------------------------    ------------------------------
      -bucket/-prefix (S3 dataset)        --source (testdata sf dir)
      -stream (Kinesis out)               --out-dir (wire chunk files)
      -speedup (default 6480)             --speedup
      -adaptTime ORIGINAL/...             --adapt
      -seek <timestamp>                   --seek-ms
      -aggregate (KPL batching)           n/a (file chunks batch by time)
                                          --compress snz|gz (the dataset's
                                          own codec, for round-trip tests)
    """
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("--source", required=True, help="testdata sf dir (parquet)")
    p.add_argument("--out-dir", required=True, help="wire chunk output dir")
    p.add_argument("--speedup", type=float, default=6480.0)
    p.add_argument("--adapt", default="ORIGINAL", choices=ADAPT_MODES)
    p.add_argument("--seek-ms", type=int, default=None)
    p.add_argument("--chunk-seconds", type=int, default=600)
    p.add_argument("--max-chunks", type=int, default=None)
    p.add_argument("--pace", action="store_true")
    p.add_argument("--compress", default=None, choices=("snz", "gz"))
    args = p.parse_args(argv)

    spark = get_spark("taxi-replay")
    spark.sparkContext.setLogLevel("WARN")
    n = replay(
        spark,
        args.source,
        args.out_dir,
        speedup=args.speedup,
        adapt=args.adapt,
        seek_ms=args.seek_ms,
        chunk_seconds=args.chunk_seconds,
        max_chunks=args.max_chunks,
        pace=args.pace,
        compress=args.compress,
    )
    print(f"replayed {n} events -> {args.out_dir}")


if __name__ == "__main__":
    main()
