"""Elasticsearch-style bulk sink (reference parity:
flink-taxi-stream-processor/.../utils/ElasticsearchJestSink.java:45-155).

The reference buffers result documents and bulk-indexes when the buffer
reaches 500 docs or 5000 ms, flushing to empty on Flink checkpoints
(at-least-once). In Structured Streaming the epoch commit *is* the flush
boundary — ``foreachBatch`` hands us a complete, replayable micro-batch,
so the checkpoint-coupled flush comes for free and with a stronger
guarantee (no acknowledged-incomplete FIXME like the reference's :98).

No Elasticsearch server exists in this environment; the transport writes
newline-delimited JSON bulk files per (index, doc_type, epoch) — the same
payload shape the reference posts to ``/_bulk`` — so everything up to the
HTTP call is real and testable. Swapping in the ES connector is a one-line
``format("es")`` change.

Delivery semantics: bulk files are EPOCH-ADDRESSED (``bulk-e{epoch}/``).
Structured Streaming redelivers a whole epoch on recovery; overwriting that
epoch's directory is idempotent, so the file transport is effectively
exactly-once — strictly stronger than the reference's at-least-once (its
flush can acknowledge incompletely, ElasticsearchJestSink.java:98 FIXME).
Against a real ES cluster the same epoch key becomes the document ``_id``
prefix, turning redelivery into an upsert.

Scale posture (r07): ``write_batch_to_es`` writes EXECUTOR-SIDE — the bulk
payload is serialized with ``to_json`` and written with ``df.write.text``
straight from every task, exactly as the reference's sink runs in every
parallel subtask (ElasticsearchJestSink.java:45-102). Nothing on the
result path passes through the driver; ``maxRecordsPerFile`` enforces the
reference's 500-doc bulk-request cap per output file. The reference's
5000 ms age trigger has no counterpart: the micro-batch trigger bounds
how long a result waits before its epoch is written.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_DOCS = 500   # ElasticsearchJestSink.java:61-63


class EsBulkFileSink:
    """Where and how ``write_batch_to_es`` writes: the sink directory,
    the target index, and the per-file bulk-request cap."""

    def __init__(
        self,
        out_dir: str,
        index: str = "taxi-dashboard",  # ProcessTaxiStream.java:59
        max_docs: int = DEFAULT_MAX_DOCS,
    ) -> None:
        self.out_dir = out_dir
        self.index = index
        self.max_docs = max_docs
        os.makedirs(out_dir, exist_ok=True)


def bulk_payload(df: DataFrame, doc_type: str, index: str) -> DataFrame:
    """One string row per document, holding the TWO-line bulk entry the
    reference posts per doc (action line + source line, Jest Bulk,
    ElasticsearchJestSink.java:80-88) — built entirely with JVM-side
    ``to_json``/``concat`` so the payload is produced where the data is."""
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"), F.lit(doc_type).alias("_type")
            ).alias("index")
        )
    )
    doc = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(F.concat(action, F.lit("\n"), doc).alias("value"))


def epoch_dir(out_dir: str, epoch_id: int) -> str:
    return os.path.join(out_dir, f"bulk-e{int(epoch_id):06d}")


def write_batch_to_es(
    batch_df: DataFrame,
    sink: EsBulkFileSink,
    doc_type: str,
    epoch_id: int,
) -> None:
    """foreachBatch body for one result stream — EXECUTOR-SIDE writes.

    Every task serializes and writes its own partition of the bulk payload
    (the reference's sink likewise runs in each parallel subtask,
    ElasticsearchJestSink.java:45-102); the driver only issues the write
    job. ``maxRecordsPerFile`` caps each part file at the reference's
    500-doc bulk-request size. The epoch directory is overwritten whole on
    redelivery — exactly-once to the transport, no driver materialization
    of result rows anywhere on this path.
    """
    (
        bulk_payload(batch_df, doc_type, sink.index)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", sink.max_docs)
        .text(epoch_dir(sink.out_dir, epoch_id))
    )


def iter_bulk_lines(out_dir: str):
    """Yield every bulk payload line under ``out_dir`` (driver-side test /
    CLI helper, not on the streaming path): the part files of every epoch
    directory."""
    import glob as _glob

    for p in sorted(_glob.glob(os.path.join(out_dir, "bulk-e*", "part-*"))):
        if p.endswith(".crc") or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    yield line


def read_bulk_docs(spark, out_dir: str, schema) -> DataFrame:
    """Parse executor-written bulk directories back into typed rows — a
    distributed read (``spark.read.text`` + ``from_json``), used by the
    pipeline's ``collect_results`` convenience path so results never
    funnel through the driver inside ``foreachBatch``."""
    lines = spark.read.text(os.path.join(out_dir, "bulk-e*"))
    docs = lines.filter(~F.col("value").startswith('{"index":{"_index"'))
    return docs.select(
        F.from_json(F.col("value"), schema).alias("doc")
    ).select("doc.*")
