"""Partitioned corpus writer: layout, manifest integrity, and dynamic
partition-overwrite idempotency (operators/corpus_io.py)."""

from __future__ import annotations

import os
import tempfile

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from flink_stream_processing_refarch_spark.operators import corpus_io
from flink_stream_processing_refarch_spark.schemas import load_table


def test_write_layout_manifest_and_dynamic_overwrite(spark):
    docs = load_table(spark, SF_DIR, "documents")
    expect = {
        f"source={r['source']}": r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        m = corpus_io.write_partitioned_corpus(docs, out)
        # manifest mirrors the committed files
        assert m["partitions"] == expect
        assert m["total_rows"] == sum(expect.values())
        assert corpus_io.verify_manifest(spark, out)
        # hive-style partition dirs exist, one per source
        dirs = {d for d in os.listdir(out) if d.startswith("source=")}
        assert dirs == set(expect)
        # read-back round trip preserves rows and partition column
        back = spark.read.parquet(out)
        assert back.count() == docs.count()
        assert set(back.columns) == set(docs.columns)

        # dynamic overwrite: rewriting ONE source's docs (with one row
        # dropped) must replace only that partition and leave the rest
        # byte-untouched
        src = sorted(expect)[0].split("=", 1)[1]
        one = docs.filter(F.col("source") == src)
        drop_id = one.agg(F.min("doc_id")).collect()[0][0]
        other_dir = os.path.join(out, sorted(expect)[1])
        before = {
            f: os.path.getmtime(os.path.join(other_dir, f))
            for f in os.listdir(other_dir)
        }
        m2 = corpus_io.write_partitioned_corpus(
            one.filter(F.col("doc_id") != drop_id), out
        )
        assert m2["partitions"][f"source={src}"] == expect[f"source={src}"] - 1
        for k, v in expect.items():
            if k != f"source={src}":
                assert m2["partitions"][k] == v
        after = {
            f: os.path.getmtime(os.path.join(other_dir, f))
            for f in os.listdir(other_dir)
        }
        assert before == after  # untouched partition files not rewritten
        assert corpus_io.verify_manifest(spark, out)


def test_upsert_replaces_updates_appends_and_prunes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        corpus_io.write_partitioned_corpus(docs, out)
        srcs = sorted(r["source"] for r in docs.select("source").distinct().collect())
        src = srcs[0]
        victim = (
            docs.filter(F.col("source") == src).agg(F.min("doc_id")).collect()
        )[0][0]
        new_id = 90_000_000
        delta = docs.filter(F.col("doc_id") == victim).select(
            F.col("doc_id"),
            F.lit("updated text").alias("text"),
            "lang",
            "source",
            F.lit(12).alias("n_chars"),
        ).unionByName(
            docs.filter(F.col("doc_id") == victim).select(
                F.lit(new_id).alias("doc_id"),
                F.lit("brand new doc").alias("text"),
                "lang",
                "source",
                F.lit(13).alias("n_chars"),
            )
        )
        other_dir = os.path.join(out, f"source={srcs[1]}")
        before = {
            f: os.path.getmtime(os.path.join(other_dir, f))
            for f in os.listdir(other_dir)
        }
        m = corpus_io.upsert_corpus(delta, out)
        back = spark.read.parquet(out)
        assert back.count() == docs.count() + 1  # one append, one replace
        assert (
            back.filter(F.col("doc_id") == victim).collect()[0]["text"]
            == "updated text"
        )
        assert back.filter(F.col("doc_id") == new_id).count() == 1
        # untouched partitions were never rewritten
        after = {
            f: os.path.getmtime(os.path.join(other_dir, f))
            for f in os.listdir(other_dir)
        }
        assert before == after
        assert m["total_rows"] == docs.count() + 1
        assert corpus_io.verify_manifest(spark, out)


def test_upsert_empty_delta_is_a_noop(spark):
    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        m1 = corpus_io.upsert_corpus(docs.filter(F.lit(False)), out)
        assert m1 == m0
        assert corpus_io.verify_manifest(spark, out)


def test_max_records_per_file_bounds_file_sizes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        corpus_io.write_partitioned_corpus(docs, out, max_records_per_file=1)
        # with a 1-record cap, every partition dir holds >= its row count
        # of parquet files
        src_dir = next(
            os.path.join(out, d)
            for d in os.listdir(out)
            if d.startswith("source=")
        )
        files = [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
        n_rows = spark.read.parquet(src_dir).count()
        assert len(files) >= n_rows > 0


def test_upsert_manifest_is_incremental(spark):
    """The manifest refresh reads back ONLY the touched partitions:
    an (artificially wrong) untouched-partition count in the prior
    manifest SURVIVES an upsert verbatim — proof the refresh merged the
    prior manifest instead of rebuilding from a full-corpus scan —
    and the untouched partition's files are byte-identical."""
    import json

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        srcs = sorted(k.split("=", 1)[1] for k in m0["partitions"])
        touched_src, untouched_src = srcs[0], srcs[1]
        # poison the untouched partition's manifest count
        mpath = os.path.join(out, corpus_io.MANIFEST)
        with open(mpath) as f:
            poisoned = json.load(f)
        poisoned["partitions"][f"source={untouched_src}"] = 123456789
        with open(mpath, "w") as f:
            json.dump(poisoned, f)
        untouched_dir = os.path.join(out, f"source={untouched_src}")
        before = {
            f: (os.path.getsize(os.path.join(untouched_dir, f)),
                os.path.getmtime(os.path.join(untouched_dir, f)))
            for f in os.listdir(untouched_dir)
        }
        delta = docs.filter(F.col("source") == touched_src).limit(1).select(
            "doc_id", F.lit("x").alias("text"), "lang", "source",
            F.lit(1).alias("n_chars"),
        )
        m1 = corpus_io.upsert_corpus(delta, out)
        # untouched partition: count carried from the PRIOR manifest
        # (poison survives => no full rescan), files untouched
        assert m1["partitions"][f"source={untouched_src}"] == 123456789
        after = {
            f: (os.path.getsize(os.path.join(untouched_dir, f)),
                os.path.getmtime(os.path.join(untouched_dir, f)))
            for f in os.listdir(untouched_dir)
        }
        assert before == after
        # touched partition: count from the actual read-back
        assert (
            m1["partitions"][f"source={touched_src}"]
            == m0["partitions"][f"source={touched_src}"]
        )


def test_null_partition_value_manifest_key_matches_layout(spark):
    """A NULL partition value lands in source=__HIVE_DEFAULT_PARTITION__
    on disk; the manifest key must use the same token (ADVICE r04)."""
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    nulled = docs.withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.lit(None)).otherwise(
            F.col("source")
        ),
    )
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        m = corpus_io.write_partitioned_corpus(nulled, out)
        null_key = f"source={corpus_io.HIVE_NULL}"
        assert null_key in m["partitions"]
        # the key names a real directory of the layout
        assert os.path.isdir(os.path.join(out, null_key))
        assert corpus_io.verify_manifest(spark, out)
        # upsert into the null partition keeps key/layout agreement
        delta = nulled.filter(F.col("source").isNull()).limit(1).select(
            "doc_id", F.lit("upd").alias("text"), "lang", "source",
            F.lit(3).alias("n_chars"),
        )
        m2 = corpus_io.upsert_corpus(delta, out)
        assert null_key in m2["partitions"]
        assert corpus_io.verify_manifest(spark, out)


def test_upsert_matches_duckdb_merge_on_random_deltas(spark, duck):
    """Property: for ANY delta (updates + inserts over random key
    subsets), the committed files after upsert_corpus equal DuckDB
    computing the same delta-wins merge relationally. Three seeded
    shapes: update-only, insert-only, mixed with a null-source row."""
    import duckdb as ddb

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    cases = [
        (7, 0),    # update every 7th, no inserts
        (0, 11),   # no updates, insert per 11th
        (5, 13),   # mixed
    ]
    for upd_mod, ins_mod in cases:
        with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
            corpus_io.write_partitioned_corpus(docs, out)
            parts = []
            if upd_mod:
                parts.append(
                    docs.filter(F.col("doc_id") % upd_mod == 0).select(
                        "doc_id",
                        F.concat(F.lit("U:"), "text").alias("text"),
                        "source",
                    )
                )
            if ins_mod:
                parts.append(
                    docs.filter(F.col("doc_id") % ins_mod == 0).select(
                        (F.col("doc_id") + 5_000_000).alias("doc_id"),
                        F.concat(F.lit("I:"), "text").alias("text"),
                        "source",
                    )
                )
            delta = parts[0]
            for p in parts[1:]:
                delta = delta.unionByName(p)
            corpus_io.upsert_corpus(delta, out)
            back = sorted(
                (r["doc_id"], r["source"], r["text"])
                for r in spark.read.parquet(out).collect()
            )
            upd = (
                f"SELECT doc_id, 'U:' || text AS text, source FROM documents"
                f" WHERE doc_id % {upd_mod} = 0" if upd_mod else None
            )
            ins = (
                f"SELECT doc_id + 5000000 AS doc_id, 'I:' || text AS text,"
                f" source FROM documents WHERE doc_id % {ins_mod} = 0"
                if ins_mod else None
            )
            dsql = " UNION ALL ".join(x for x in (upd, ins) if x)
            con = ddb.connect()
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
            )
            expect = sorted(
                con.execute(
                    f"""
                    WITH delta AS ({dsql})
                    SELECT doc_id, source, text FROM delta
                    UNION ALL
                    SELECT doc_id, source, text FROM documents
                    WHERE doc_id NOT IN (SELECT doc_id FROM delta)
                    """
                ).fetchall()
            )
            expect = sorted((d, s, t) for d, s, t in expect)
            back_cmp = sorted((d, s, t) for d, s, t in back)
            assert back_cmp == expect, (upd_mod, ins_mod)


def test_upsert_rejects_duplicate_delta_keys(spark):
    """Two delta rows with the same key would make the delta-wins
    winner shuffle-order nondeterministic — must refuse loudly."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        corpus_io.write_partitioned_corpus(docs, out)
        one = docs.limit(1).select(
            "doc_id", F.lit("x").alias("text"), "lang", "source",
            F.lit(1).alias("n_chars"),
        )
        dup_delta = one.unionByName(one)
        with pytest.raises(ValueError, match="duplicate key"):
            corpus_io.upsert_corpus(dup_delta, out)


def test_upsert_recovers_from_missing_manifest(spark):
    """A corpus whose manifest was lost (crash between data commit and
    manifest dump) is repaired: the upsert proceeds and rebuilds the
    manifest from the committed files."""
    docs = load_table(spark, SF_DIR, "documents")
    with tempfile.TemporaryDirectory(dir="/dev/shm") as out:
        corpus_io.write_partitioned_corpus(docs, out)
        os.remove(os.path.join(out, corpus_io.MANIFEST))
        delta = docs.limit(1).select(
            "doc_id", F.lit("recovered").alias("text"), "lang", "source",
            F.lit(9).alias("n_chars"),
        )
        m = corpus_io.upsert_corpus(delta, out)
        assert m["total_rows"] == docs.count()
        assert corpus_io.verify_manifest(spark, out)

def test_streaming_upsert_multibatch_converges_to_batch_merge(spark):
    """The streaming upsert twin's claim (VERDICT r07 #8): per-key
    replacement is epoch-composable — the SAME delta split across FOUR
    micro-batches (maxFilesPerTrigger=1 over chunked delta files)
    converges to exactly the batch merge's final state."""
    import glob as _glob
    import shutil
    import time as _time

    from flink_stream_processing_refarch_spark.streaming.jobs import (
        DOCS_SCHEMA,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    # batch reference state
    with tempfile.TemporaryDirectory() as base:
        out_b = os.path.join(base, "batch")
        corpus_io.write_partitioned_corpus(docs, out_b)
        corpus_io.upsert_corpus(corpus_io._delta_from_docs(docs), out_b)
        expected = sorted(
            tuple(r)
            for r in spark.read.parquet(out_b)
            .select("doc_id", "source", F.md5("text").alias("h"))
            .collect()
        )

        # the same delta as four time-ordered chunk files
        delta = corpus_io._delta_from_docs(docs)
        lo, hi = delta.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        src = os.path.join(base, "chunks")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        n_chunks, step = 4, (hi - lo) // 4 + 1
        for i in range(n_chunks):
            chunk = delta.filter(
                (F.col("doc_id") >= lo + i * step)
                & (F.col("doc_id") < lo + (i + 1) * step)
            ).withColumn("lang", F.lit(None).cast("string")).withColumn(
                "n_chars", F.lit(None).cast("long")
            ).select("doc_id", "text", "lang", "source", "n_chars")
            chunk.coalesce(1).write.mode("overwrite").parquet(
                f"{src}/c{i}"
            )
            (part,) = _glob.glob(f"{src}/c{i}/part-*.parquet")
            os.link(part, f"{flat}/chunk-{i:03d}.parquet")
            mt = _time.time() - (n_chunks - i) * 10
            os.utime(f"{flat}/chunk-{i:03d}.parquet", (mt, mt))

        out_s = os.path.join(base, "stream")
        corpus_io.write_partitioned_corpus(docs, out_s)
        stream = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(flat)
            .select("doc_id", "text", "source")
        )
        ck = os.path.join(base, "ck")
        epochs = []
        q = (
            stream.writeStream.foreachBatch(
                lambda b, e: (
                    epochs.append(e),
                    corpus_io.upsert_corpus(b, out_s),
                )
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(epochs) >= n_chunks  # genuinely multi-epoch
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out_s)
            .select("doc_id", "source", F.md5("text").alias("h"))
            .collect()
        )
        assert got == expected

        # epoch REDELIVERY (recovery replays a whole epoch): re-applying
        # one chunk's delta leaves the converged state unchanged
        redelivered = spark.read.parquet(f"{src}/c0").select(
            "doc_id", "text", "source"
        )
        corpus_io.upsert_corpus(redelivered, out_s)
        again = sorted(
            tuple(r)
            for r in spark.read.parquet(out_s)
            .select("doc_id", "source", F.md5("text").alias("h"))
            .collect()
        )
        assert again == expected
        assert corpus_io.verify_manifest(spark, out_s)
        shutil.rmtree(base, ignore_errors=True)

def test_compact_corpus_collapses_files_and_leaves_others_untouched(spark):
    """compact_corpus rewrites ONLY fragmented partitions: file counts
    collapse to ceil(rows/target), content is unchanged, and a partition
    already at its target file count keeps its exact files (same inodes
    and mtimes — never rewritten)."""
    import glob

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    sources = sorted(r.source for r in docs.select("source").distinct().collect())
    frag_src = sources[0]
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)  # 1 file/partition
        # fragment ONE partition the way an ingest/upsert sequence does:
        # rewrite it with tiny files via dynamic overwrite
        part = docs.filter(F.col("source") == frag_src).localCheckpoint()
        (
            part.repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", "3")
            .partitionBy("source")
            .parquet(out)
        )
        frag_dir = os.path.join(out, f"source={frag_src}")
        assert len(glob.glob(f"{frag_dir}/*.parquet")) > 1
        other = sources[1]
        other_dir = os.path.join(out, f"source={other}")
        before = {
            p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in glob.glob(f"{other_dir}/*.parquet")
        }

        report = corpus_io.compact_corpus(spark, out)
        assert report["compacted"] == [f"source={frag_src}"]
        assert len(glob.glob(f"{frag_dir}/*.parquet")) == 1
        after = {
            p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns)
            for p in glob.glob(f"{other_dir}/*.parquet")
        }
        assert after == before  # untouched partition: same files
        # content preserved exactly
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "source", F.md5("text").alias("h"))
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in docs.select(
                "doc_id", "source", F.md5("text").alias("h")
            ).collect()
        )
        assert got == want
        assert corpus_io.verify_manifest(spark, out)
        # idempotent: a second compact finds nothing to do
        assert corpus_io.compact_corpus(spark, out)["compacted"] == []

def test_cluster_corpus_layout_makes_file_ranges_disjoint(spark):
    """cluster_corpus_layout: before — files written from hash-scattered
    rows each span ~the whole doc_id range (every range predicate opens
    every file); after — per-partition file ranges are pairwise disjoint
    (footer stats, the exact evidence a pruning reader uses), content
    byte-equal, manifest intact."""
    import glob

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        # hash-scatter rows first so small files interleave doc_ids
        corpus_io.write_partitioned_corpus(
            docs.repartition(4, "doc_id"), out, max_records_per_file=5
        )
        src = sorted(
            r.source for r in docs.select("source").distinct().collect()
        )[0]
        pdir = os.path.join(out, f"source={src}")
        before = corpus_io.file_column_ranges(pdir, "doc_id")
        assert len(before) > 1
        overlaps = sum(
            1
            for i, (lo1, hi1) in enumerate(before)
            for lo2, hi2 in before[i + 1:]
            if not (hi1 < lo2 or hi2 < lo1)
        )
        assert overlaps > 0  # the scattered layout genuinely interleaves

        report = corpus_io.cluster_corpus_layout(
            spark, out, target_rows_per_file=10
        )
        assert report["range_tasks"] >= 1
        after = corpus_io.file_column_ranges(pdir, "doc_id")
        assert len(after) >= 1
        for i, (lo1, hi1) in enumerate(after):
            for lo2, hi2 in after[i + 1:]:
                assert hi1 < lo2 or hi2 < lo1, (after,)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "source", F.md5("text").alias("h"))
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in docs.select(
                "doc_id", "source", F.md5("text").alias("h")
            ).collect()
        )
        assert got == want
        assert corpus_io.verify_manifest(spark, out)


def test_interleaved_compaction_loses_upsert_without_lease(spark):
    """PINS the failure mode the r09 maintenance lease exists for: a
    compaction that snapshots (localCheckpoint) BEFORE a concurrent
    upsert commits, then dynamic-overwrites AFTER it, silently replaces
    the upsert's merged rows with pre-upsert content — last-writer-wins
    is not content-correct for read-modify-write writers. The
    interleaving is simulated deterministically in one process by
    running the compactor's two halves around an (internal, lease-free)
    upsert; the public API makes the same schedule impossible:
    the second writer raises MaintenanceLeaseHeld."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    src = sorted(r.source for r in docs.select("source").distinct().collect())[0]
    victim = (
        docs.filter(F.col("source") == src).agg(F.min("doc_id")).collect()
    )[0][0]
    delta = docs.filter(F.col("doc_id") == victim).select(
        "doc_id", F.lit("UPSERTED").alias("text"), "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        # -- compactor half 1: snapshot the partition (pre-upsert) --
        snap = (
            spark.read.parquet(out)
            .filter(F.col("source") == src)
            .localCheckpoint(eager=True)
        )
        # -- interleaved upsert commits (takes and releases the lease;
        #    the "compactor" here deliberately is not holding it — the
        #    exact schedule the public API forbids) --
        corpus_io.upsert_corpus(delta, out)
        got = (
            spark.read.parquet(out)
            .filter(F.col("doc_id") == victim)
            .collect()
        )
        assert got[0]["text"] == "UPSERTED"
        # -- compactor half 2: commit the stale snapshot --
        (
            snap.repartition(F.col("source"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("source")
            .parquet(out)
        )
        lost = (
            spark.read.parquet(out)
            .filter(F.col("doc_id") == victim)
            .collect()
        )
        assert lost[0]["text"] != "UPSERTED"  # the pinned lost update

        # -- with the lease, the schedule cannot happen: while the
        #    compactor holds it, the upsert (and a second maintenance
        #    op) raise instead of committing --
        with corpus_io.corpus_lease(out, "compact"):
            with pytest.raises(corpus_io.MaintenanceLeaseHeld):
                corpus_io.upsert_corpus(delta, out)
            with pytest.raises(corpus_io.MaintenanceLeaseHeld):
                corpus_io.compact_corpus(spark, out)
            with pytest.raises(corpus_io.MaintenanceLeaseHeld):
                corpus_io.write_partitioned_corpus(docs, out)  # rebuild too
        # released on exit: the upsert now proceeds and sticks
        corpus_io.upsert_corpus(delta, out)
        back = (
            spark.read.parquet(out)
            .filter(F.col("doc_id") == victim)
            .collect()
        )
        assert back[0]["text"] == "UPSERTED"


def test_lease_released_on_failure_and_stale_lease_broken(spark):
    """The lease never outlives its writer: released when the body
    raises (a duplicate-key upsert), and a crashed holder's lease
    (acquired_at older than its ttl) is broken by the next acquire
    instead of wedging maintenance forever."""
    import json as _json
    import time as _time

    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        dup = docs.limit(1).unionByName(docs.limit(1))  # duplicate key
        with pytest.raises(ValueError, match="duplicate key"):
            corpus_io.upsert_corpus(dup, out)
        assert not os.path.exists(os.path.join(out, corpus_io.LEASE))
        # crashed writer: stale lease on disk, next writer breaks it
        with open(os.path.join(out, corpus_io.LEASE), "w") as f:
            _json.dump(
                {
                    "purpose": "compact",
                    "pid": 0,
                    "acquired_at": _time.time() - 7200,
                    "ttl_sec": 3600,
                },
                f,
            )
        report = corpus_io.compact_corpus(spark, out)  # does not raise
        assert report["compacted"] == []
        assert not os.path.exists(os.path.join(out, corpus_io.LEASE))


def test_expired_holder_does_not_release_successors_lease(spark):
    """Token-checked release: a holder whose lease expired (TTL) and was
    broken + re-acquired by another writer must NOT delete the new
    holder's lease on exit — the classic delete-based-lock bug. The
    successor's lease survives the expired holder's exit and keeps
    excluding writers until the successor itself releases."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        lease_path = os.path.join(out, corpus_io.LEASE)

        slow = corpus_io.corpus_lease(out, "slow", ttl_sec=0.0)
        slow.__enter__()  # immediately stale: any successor may break it
        fast = corpus_io.corpus_lease(out, "fast")
        fast.__enter__()  # breaks the stale lease, acquires its own
        try:
            slow.__exit__(None, None, None)  # expired holder exits...
            assert os.path.exists(lease_path)  # ...successor's lease intact
            with pytest.raises(corpus_io.MaintenanceLeaseHeld):
                corpus_io.compact_corpus(spark, out)
        finally:
            fast.__exit__(None, None, None)
        assert not os.path.exists(lease_path)  # successor's own release


def test_fresh_empty_lease_is_held_not_broken(spark):
    """The r09 review's counterexample: an (externally created) EMPTY
    lease file must read as HELD, not as 'crashed mid-dump' — the
    module's own creation is link-based and never publishes a partial
    file, so unreadable content is broken only when it is also
    time-stale."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        open(os.path.join(out, corpus_io.LEASE), "w").close()  # empty
        with pytest.raises(corpus_io.MaintenanceLeaseHeld):
            with corpus_io.corpus_lease(out, "second"):
                pass
        # still breakable once time-stale: backdate the mtime past TTL
        old = os.path.join(out, corpus_io.LEASE)
        os.utime(old, (1, 1))
        with corpus_io.corpus_lease(out, "after-stale"):
            pass
        assert not os.path.exists(old)


def test_commit_fence_aborts_expired_holder(spark):
    """check_lease (the commit fence): a holder whose lease was
    TTL-broken and re-acquired by a successor must get
    MaintenanceLeaseHeld from the fence instead of committing over the
    successor — and the successor's own fence passes."""
    import pytest

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        slow = corpus_io.corpus_lease(out, "slow", ttl_sec=0.0)
        slow_tok = slow.__enter__()  # immediately stale
        fast = corpus_io.corpus_lease(out, "fast")
        fast_tok = fast.__enter__()  # breaks + acquires
        try:
            corpus_io.check_lease(out, fast_tok)  # successor: fine
            with pytest.raises(corpus_io.MaintenanceLeaseHeld):
                corpus_io.check_lease(out, slow_tok)  # expired: abort
        finally:
            fast.__exit__(None, None, None)
            slow.__exit__(None, None, None)
        assert not os.path.exists(os.path.join(out, corpus_io.LEASE))


def test_break_restores_stolen_live_lease(monkeypatch, tmp_path):
    """The r09 review's TOCTOU: breaker A judges the lease stale, but
    between A's read and A's rename-aside another breaker B breaks it
    and a successor acquires a FRESH lease — A's rename then steals the
    successor's LIVE lease. Since r10 the break re-judges the aside
    file on its own content: A must detect liveness, hard-link it back,
    and fail with MaintenanceLeaseHeld; the successor's lease survives
    on disk untouched."""
    import json as _json
    import time as _time

    import pytest

    out = str(tmp_path / "corpus")
    os.makedirs(out)
    lease_path = os.path.join(out, corpus_io.LEASE)
    with open(lease_path, "w") as f:  # the crashed holder's stale lease
        _json.dump(
            {"purpose": "old", "pid": 0, "acquired_at": _time.time() - 7200,
             "ttl_sec": 3600, "token": "crashed-tok"}, f,
        )
    real_rename = os.rename
    fired = []

    def rename_with_race(src, dst):
        if src == lease_path and not fired:
            fired.append(True)
            # inside A's read->rename gap: B breaks the stale lease and
            # a successor acquires a fresh one at the same path
            with open(lease_path, "w") as f:
                _json.dump(
                    {"purpose": "successor", "pid": 1,
                     "acquired_at": _time.time(), "ttl_sec": 3600,
                     "token": "successor-tok"}, f,
                )
        return real_rename(src, dst)

    monkeypatch.setattr(corpus_io.os, "rename", rename_with_race)
    restored0 = corpus_io.BREAK_RESTORED_COUNT
    with pytest.raises(corpus_io.MaintenanceLeaseHeld):
        with corpus_io.corpus_lease(out, "thief"):
            pass
    assert fired, "race injection never ran"
    assert corpus_io.BREAK_RESTORED_COUNT == restored0 + 1
    with open(lease_path) as f:  # successor's live lease is back intact
        assert _json.load(f)["token"] == "successor-tok"
    assert not [p for p in os.listdir(out) if ".broken." in p]


def test_lease_hammer_serializes_concurrent_writers(spark):
    """Hammer (VERDICT r09 #5): N threads x M upsert/compact/layout
    cycles on ONE corpus, each retrying on MaintenanceLeaseHeld. The
    serialized schedule must converge to the serial merge: thread t owns
    the disjoint key set doc_id % 3 == t and its last cycle's delta wins,
    so the final content is deterministic REGARDLESS of interleaving —
    exactly the property the lease exists to protect (without it, a
    compaction snapshot clobbers a concurrent upsert). Also asserts the
    TTL-break path never fired (default TTL >> test wall) and no lease
    or aside file is left behind."""
    import threading
    import time as _time

    docs = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("base "), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        breaks0 = corpus_io.BREAK_COUNT
        restored0 = corpus_io.BREAK_RESTORED_COUNT
        errors: list[Exception] = []
        held_retries = [0]
        CYCLES = 3

        def retry(op):
            # the production retry protocol, with a held counter
            return corpus_io.retry_on_lease_held(
                op, max_wait_sec=180, backoff_sec=0.05,
                on_held=lambda _e: held_retries.__setitem__(
                    0, held_retries[0] + 1
                ),
            )

        def upserter(t):
            try:
                for c in range(CYCLES):
                    delta = docs.filter(F.col("doc_id") % 3 == t).select(
                        "doc_id",
                        F.concat(
                            F.lit(f"T{t}C{c} "), F.col("text")
                        ).alias("text"),
                        "source",
                    )
                    retry(lambda d=delta: corpus_io.upsert_corpus(d, out))
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

        def maintainer():
            try:
                for _ in range(CYCLES):
                    retry(lambda: corpus_io.compact_corpus(spark, out))
                    retry(
                        lambda: corpus_io.cluster_corpus_layout(
                            spark, out, target_rows_per_file=50
                        )
                    )
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=upserter, args=(t,)) for t in (0, 1, 2)
        ] + [threading.Thread(target=maintainer)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        assert not errors, errors
        last = CYCLES - 1
        got = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(out).collect()
        }
        expect = {
            i: f"T{i % 3}C{last} base {i}" for i in range(120)
        }
        assert got == expect
        assert corpus_io.verify_manifest(spark, out)
        assert corpus_io.BREAK_COUNT == breaks0  # TTL never fired
        assert corpus_io.BREAK_RESTORED_COUNT == restored0
        assert not os.path.exists(os.path.join(out, corpus_io.LEASE))
        assert not [p for p in os.listdir(out) if ".broken." in p]
        # contention really happened: at least one writer had to wait
        assert held_retries[0] > 0


def test_streaming_upsert_survives_interleaved_maintenance(spark):
    """Found by the r10 interleaved-maintenance exercise (VERDICT r09
    #6): the streaming upsert acquires the lease PER EPOCH, so
    maintenance legitimately interleaving between micro-batches made
    the next epoch's plain upsert_corpus raise MaintenanceLeaseHeld
    and KILL the stream. The streaming twin's foreachBatch now merges
    through upsert_corpus_retrying: with the lease held at stream
    start (released mid-run, as a finishing compaction would), the
    stream must wait it out and converge to the same final content —
    and the bounded fail-fast still works (a never-released lease
    surfaces as a stream failure, not an infinite stall)."""
    import shutil
    import threading
    import time as _time

    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_stream_processing_refarch_spark.streaming.jobs import (
        stream_documents,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)

        def run_stream():
            sdocs = stream_documents(spark, SF_DIR).select(
                "doc_id", "text", "source"
            )
            ck = os.path.join(
                base, f"ck_{len(os.listdir(base))}"
            )
            q = (
                corpus_io._delta_from_docs(sdocs)
                .writeStream.foreachBatch(
                    lambda b, eid: corpus_io.upsert_corpus_retrying(
                        b, out, max_wait_sec=60
                    )
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        lease = corpus_io.corpus_lease(out, "maintenance")
        lease.__enter__()
        releaser = threading.Timer(5.0, lambda: lease.__exit__(None, None, None))
        releaser.start()
        try:
            run_stream()  # must WAIT for the release, then converge
        finally:
            releaser.join()
        merged = spark.read.parquet(out)
        n_upd = merged.filter(F.col("text").startswith("UPD: ")).count()
        n_new = merged.filter(F.col("doc_id") >= 3000000).count()
        assert n_upd > 0 and n_new > 0
        assert corpus_io.verify_manifest(spark, out)

        # bounded fail-fast: a lease that never releases must surface
        wedged = corpus_io.corpus_lease(out, "wedged")
        wedged.__enter__()
        try:
            with pytest.raises(StreamingQueryException):
                # tiny wait bound so the test stays fast
                sdocs = stream_documents(spark, SF_DIR).select(
                    "doc_id", "text", "source"
                )
                ck2 = os.path.join(base, "ck_wedge")
                q = (
                    corpus_io._delta_from_docs(sdocs)
                    .writeStream.foreachBatch(
                        lambda b, eid: corpus_io.upsert_corpus_retrying(
                            b, out, max_wait_sec=1.0, backoff_sec=0.1
                        )
                    )
                    .option("checkpointLocation", ck2)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
        finally:
            wedged.__exit__(None, None, None)
        shutil.rmtree(os.path.join(base, "ck_wedge"), ignore_errors=True)


def test_release_restores_successors_lease_swapped_in_midway(
    monkeypatch, tmp_path
):
    """The release-side twin of the break TOCTOU (r10): an expired
    holder's exit used to read the token and unlink in two steps — a
    TTL-break + re-acquire landing BETWEEN them got its fresh lease
    deleted. Release now renames aside first; inject the swap inside
    the holder's read->rename gap and require the successor's lease
    back on disk, untouched, with no aside debris."""
    import json as _json
    import time as _time

    out = str(tmp_path / "corpus")
    os.makedirs(out)
    lease_path = os.path.join(out, corpus_io.LEASE)
    real_rename = os.rename
    fired = []

    def rename_with_race(src, dst):
        if src == lease_path and ".release." in dst and not fired:
            fired.append(True)
            # inside the holder's exit: a breaker + successor replace
            # the (TTL-expired) lease before the rename lands
            with open(lease_path, "w") as f:
                _json.dump(
                    {"purpose": "successor", "pid": 1,
                     "acquired_at": _time.time(), "ttl_sec": 3600,
                     "token": "successor-tok"}, f,
                )
        return real_rename(src, dst)

    holder = corpus_io.corpus_lease(out, "expired-holder", ttl_sec=0.0)
    holder.__enter__()
    monkeypatch.setattr(corpus_io.os, "rename", rename_with_race)
    holder.__exit__(None, None, None)
    assert fired, "race injection never ran"
    with open(lease_path) as f:  # successor's lease survived the exit
        assert _json.load(f)["token"] == "successor-tok"
    assert not [p for p in os.listdir(out) if ".release." in p]


#: every writer that commits through the shared rewrite transaction:
#: (corpus build options, the write). Compaction needs fragmented
#: partitions, or it plans nothing and never reaches the swap.
_SWAP_WRITERS = {
    "upsert": ({}, lambda spark, docs, out: corpus_io.upsert_corpus(
        docs.limit(3).select(
            "doc_id", F.lit("CLOBBER").alias("text"), "source"
        ),
        out,
    )),
    "compact": ({"max_records_per_file": 5}, lambda spark, docs, out: (
        corpus_io.compact_corpus(spark, out)
    )),
    "layout": ({}, lambda spark, docs, out: (
        corpus_io.cluster_corpus_layout(spark, out)
    )),
    "delete": ({}, lambda spark, docs, out: (
        corpus_io.delete_from_corpus(spark, out, F.col("doc_id") % 2 == 0)
    )),
    "redact": ({}, lambda spark, docs, out: (
        corpus_io.redact_column_from_corpus(spark, out, "text")
    )),
}


@pytest.mark.parametrize("writer", sorted(_SWAP_WRITERS))
def test_staged_swap_aborts_cleanly_when_lease_breaks_mid_job(
    monkeypatch, spark, writer
):
    """The r10 staged commit's whole point (r09 review: the
    fence-then-write window used to span the entire Spark write job):
    a TTL break + successor acquire landing DURING the write job must
    abort at the pre-swap fence with the live corpus byte-untouched —
    the write went to private staging, so nothing was clobbered — and
    no _staging_/_trash_ debris left behind. Injected by swapping in a
    successor's lease right before the in-swap fence check. Every
    writer shares the fence (one rewrite transaction), so every writer
    is driven through it."""
    import json as _json
    import time as _time

    import pytest

    build, write = _SWAP_WRITERS[writer]
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out, **build)
        some_dir = next(
            os.path.join(out, d)
            for d in sorted(os.listdir(out))
            if d.startswith("source=")
        )
        before = {
            f: os.path.getmtime(os.path.join(some_dir, f))
            for f in os.listdir(some_dir)
        }
        n0 = spark.read.parquet(out).count()

        real_check = corpus_io.check_lease
        calls = []

        def inject(d, tok):
            calls.append(1)
            if len(calls) == 2:  # the in-swap fence, after the staging write
                with open(os.path.join(out, corpus_io.LEASE), "w") as f:
                    _json.dump(
                        {"purpose": "successor", "pid": 1,
                         "acquired_at": _time.time(), "ttl_sec": 3600,
                         "token": "successor-tok"}, f,
                    )
            return real_check(d, tok)

        monkeypatch.setattr(corpus_io, "check_lease", inject)
        with pytest.raises(corpus_io.MaintenanceLeaseHeld):
            write(spark, docs, out)
        monkeypatch.setattr(corpus_io, "check_lease", real_check)
        # live corpus byte-untouched: same rows, same files, no CLOBBER
        assert spark.read.parquet(out).count() == n0
        assert (
            spark.read.parquet(out).filter(F.col("text") == "CLOBBER").count()
            == 0
        )
        after = {
            f: os.path.getmtime(os.path.join(some_dir, f))
            for f in os.listdir(some_dir)
        }
        assert before == after
        # no staging/trash debris; successor's lease survived the exit
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        with open(os.path.join(out, corpus_io.LEASE)) as f:
            assert _json.load(f)["token"] == "successor-tok"
        os.unlink(os.path.join(out, corpus_io.LEASE))
        assert corpus_io.verify_manifest(spark, out)


def test_writers_take_partition_columns_from_the_manifest(spark):
    """A corpus partitioned by (source, split): delete, compaction and
    layout clustering read both columns from the manifest — assuming
    the default ('source',) made delete swap a flat source=*/ tree over
    the nested layout, after which every reader of the corpus failed —
    and an upsert or a build naming other columns than the manifest
    raises before any write, leaving the corpus byte-unchanged (a build
    under the default used to replace both source=*/ dirs wholesale and
    bless only the rows it wrote, verify_manifest green)."""
    import hashlib

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias(
            "source"
        ),
        F.when(F.col("id") % 5 == 0, "test").otherwise("train").alias(
            "split"
        ),
    )

    def snapshot(out):
        tree = {}
        for root, _, files in os.walk(out):
            for fn in files:
                path = os.path.join(root, fn)
                with open(path, "rb") as f:
                    tree[os.path.relpath(path, out)] = hashlib.sha256(
                        f.read()
                    ).hexdigest()
        return tree

    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(
            docs, out, ("source", "split"), max_records_per_file=10
        )
        rep = corpus_io.delete_from_corpus(spark, out, "doc_id = 4")
        assert rep["deleted_rows"] == 1
        assert corpus_io.verify_manifest(spark, out)
        assert corpus_io.compact_corpus(spark, out)["compacted"]
        assert corpus_io.verify_manifest(spark, out)
        corpus_io.cluster_corpus_layout(spark, out)
        assert corpus_io.verify_manifest(spark, out)
        assert corpus_io.read_corpus(spark, out).count() == 199

        before = snapshot(out)
        delta = docs.filter("doc_id = 7").withColumn("text", F.lit("new"))
        with pytest.raises(ValueError, match="partitioned by"):
            corpus_io.upsert_corpus(delta, out)  # default ('source',)
        with pytest.raises(ValueError, match="partitioned by"):
            corpus_io.write_partitioned_corpus(docs.limit(10), out)
        assert snapshot(out) == before
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        assert corpus_io.read_corpus(spark, out).count() == 199


def test_partition_values_with_hive_escaped_chars_roundtrip(spark):
    """r10 review: _pkey used to render 'col=value' with the RAW value,
    but Spark Hive-escapes specials in partition directory names
    ('a%b' lives in source=a%25b), so the staged swap aborted on a
    phantom missing partition and compaction's file-count glob missed
    such partitions entirely. With the escaped rendering, build ->
    upsert -> compact -> layout all work on sources containing %, =, :
    and # — and the manifest keys match the physical layout exactly."""
    rows = [
        (i, f"text {i}", src)
        for i, src in enumerate(
            ["a%b", "k=v", "a:b", "pre#post", "plain"] * 8
        )
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m = corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=2
        )
        assert set(m["partitions"]) == {
            "source=a%25b", "source=k%3Dv", "source=a%3Ab",
            "source=pre%23post", "source=plain",
        }
        # every manifest key is a real directory (the review's bug)
        for pkey in m["partitions"]:
            assert os.path.isdir(os.path.join(out, pkey)), pkey
        delta = docs.filter(F.col("doc_id") % 5 == 0).select(
            "doc_id", F.concat(F.lit("UPD "), F.col("text")).alias("text"),
            "source",
        )
        corpus_io.upsert_corpus(delta, out)
        rep = corpus_io.compact_corpus(spark, out, target_rows_per_file=100)
        assert rep["compacted"], "escaped partitions invisible to compact"
        corpus_io.cluster_corpus_layout(spark, out, target_rows_per_file=100)
        back = spark.read.parquet(out)
        assert back.count() == docs.count()
        assert back.filter(F.col("text").startswith("UPD ")).count() == 8
        assert sorted(
            r["source"] for r in back.select("source").distinct().collect()
        ) == sorted({"a%b", "k=v", "a:b", "pre#post", "plain"})
        assert corpus_io.verify_manifest(spark, out)


def test_numeric_looking_partition_values_keep_key_dir_agreement(spark):
    """ADVICE r10: partition-type inference on read-back turned a string
    partition value '01' into int 1, so _pkey rendered 'source=1' while
    the physical dir is 'source=01' — the staged swap then raised 'no
    staged output' (or worse, swapped a duplicate partition). Corpus
    read-backs now carry an explicit schema with STRING partition
    columns (corpus_io._read_corpus; r12 — explicit schema replaced
    the r11 inference-off conf flip), so keys equal dirs even when
    every value is numeric-looking, and '01' / '1' stay DISTINCT
    partitions through upsert, compact, and layout."""
    rows = [(i, f"text {i}", src) for i, src in enumerate(
        ["01", "1", "007", "010"] * 10
    )]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m = corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=2
        )
        assert set(m["partitions"]) == {
            "source=01", "source=1", "source=007", "source=010"
        }
        for pkey, n in m["partitions"].items():
            assert os.path.isdir(os.path.join(out, pkey)), pkey
            assert n == 10
        delta = docs.filter(F.col("doc_id") % 4 == 0).select(
            "doc_id", F.concat(F.lit("UPD "), F.col("text")).alias("text"),
            "source",
        )
        m2 = corpus_io.upsert_corpus(delta, out)
        assert set(m2["partitions"]) == set(m["partitions"])
        rep = corpus_io.compact_corpus(spark, out, target_rows_per_file=100)
        assert rep["compacted"], "numeric partitions invisible to compact"
        corpus_io.cluster_corpus_layout(spark, out, target_rows_per_file=100)
        back = spark.read.parquet(out)
        assert back.count() == docs.count()
        assert back.filter(F.col("text").startswith("UPD ")).count() == 10
        assert corpus_io.verify_manifest(spark, out)
        # '01' and '1' never merged: the physical dirs both survive
        assert os.path.isdir(os.path.join(out, "source=01"))
        assert os.path.isdir(os.path.join(out, "source=1"))


def test_recover_corpus_rolls_back_crash_mid_swap(spark, monkeypatch):
    """VERDICT r10 #4: a writer killed between the two renames of the
    staged swap leaves partitions in a mixed state (some swapped, one
    displaced into trash with its live dir missing, some untouched,
    a NEW partition possibly swapped in). recover_corpus must roll the
    corpus back to the last COMMITTED state — content and manifest both
    — after which simply re-running the failed operation converges."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        # delta: update every 3rd key (touches s0) plus a NEW partition
        delta = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.concat(F.lit("UPD "), F.col("text")).alias("text"),
            F.lit("s0").alias("source"),
        ).unionByName(
            spark.createDataFrame(
                [(900 + i, f"new {i}", "s9") for i in range(5)],
                "doc_id long, text string, source string",
            )
        ).unionByName(
            docs.filter(F.col("doc_id") % 3 == 1).select(
                "doc_id",
                F.concat(F.lit("UPD "), F.col("text")).alias("text"),
                "source",
            )
        )
        # crash AFTER the 2nd live->trash rename, BEFORE its staged
        # partition swaps in: sorted pkeys are s0,s1,s2,s9, so s0 ends
        # fully swapped, s1 displaced (live missing), s2 untouched, s9
        # staged but never swapped
        real_rename = os.rename
        trash_renames = [0]

        def crashing_rename(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                trash_renames[0] += 1
                if trash_renames[0] == 2:
                    raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated mid-swap crash"):
            corpus_io.upsert_corpus(delta, out)
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        # the crash left mixed state: leftovers exist, s1 is missing live
        leftovers = [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        assert leftovers, "crash left no staging/trash to recover from"
        assert not os.path.isdir(os.path.join(out, "source=s1"))
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_back"], report
        assert "source=s1" in report["restored"]
        # rollback restored the UNION of displaced originals; swapped-in
        # s0 reverted, staged-only s9 discarded, s2 untouched
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        assert not os.path.isdir(os.path.join(out, "source=s9"))
        after = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        assert after == before
        assert corpus_io.verify_manifest(spark, out)
        # the documented protocol: re-run the failed operation
        corpus_io.upsert_corpus(delta, out)
        final = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(out).collect()
        }
        assert final[0] == "UPD base 0" and final[1] == "UPD base 1"
        assert final[2] == "base 2" and final[900] == "new 0"
        assert corpus_io.verify_manifest(spark, out)
        # idempotent: a second recover over a clean corpus is a no-op
        report2 = corpus_io.recover_corpus(out, spark)
        assert report2 == {
            "discarded_staging": [], "rolled_back": [],
            "rolled_forward": [], "restored": [], "removed_new": [],
        }


def test_recover_corpus_discards_write_stage_crash(spark, monkeypatch):
    """Crash DURING the Spark write (before the swap begins, no trash
    marker yet): recover_corpus discards the private staging dir and
    touches nothing live."""
    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 2}") for i in range(20)],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        # plant a fake leftover staging dir (as a kill -9 during the
        # write job would leave: partial files, no swap list, no trash)
        staging = os.path.join(out, "_staging_999-123")
        os.makedirs(os.path.join(staging, "source=s0"))
        with open(os.path.join(staging, "source=s0", "part-0.parquet"),
                  "wb") as f:
            f.write(b"partial")
        report = corpus_io.recover_corpus(out, spark)
        assert report["discarded_staging"] == ["999-123"]
        assert report["rolled_back"] == []
        assert not os.path.exists(staging)
        assert corpus_io.verify_manifest(spark, out)


def test_recover_corpus_discards_staging_with_swaplist_but_no_trash(spark):
    """Crash in the window between the swap-list dump and the
    trash-marker mkdir (post-write, pre-swap): staging carries a
    complete _swaplist.json but no trash dir exists, so nothing live
    was touched — recover_corpus must take the discard branch (the
    trash marker, not the swap list, is what signals a begun swap)."""
    import json as _json

    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 2}") for i in range(20)],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        staging = os.path.join(out, "_staging_77-0")
        os.makedirs(os.path.join(staging, "source=s0"))
        with open(os.path.join(staging, "source=s0", "part-0.parquet"),
                  "wb") as f:
            f.write(b"staged")
        with open(os.path.join(staging, corpus_io.SWAPLIST), "w") as f:
            _json.dump(["source=s0"], f)
        report = corpus_io.recover_corpus(out, spark)
        assert report["discarded_staging"] == ["77-0"]
        assert report["rolled_back"] == [] and report["restored"] == []
        assert not os.path.exists(staging)
        assert corpus_io.verify_manifest(spark, out)


def test_recover_corpus_idempotent_after_recovery_crash(spark, monkeypatch):
    """VERDICT r11 #2: a recovery that itself dies mid-rollback (k of n
    partitions restored, trash/staging still present) must converge
    under a second recover_corpus call. This pin EXPOSED a real hole:
    the pre-r12 new-partition branch judged 'in swap list, in neither
    trash nor staging, live present' as swapped-in-new and DELETED it —
    but after a partial rollback that state also describes an original
    a prior recovery already RESTORED. The committed manifest now
    disambiguates (a manifest partition is never new)."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        delta = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.concat(F.lit("UPD "), F.col("text")).alias("text"),
            F.lit("s0").alias("source"),
        ).unionByName(
            docs.filter(F.col("doc_id") % 3 == 1).select(
                "doc_id",
                F.concat(F.lit("UPD "), F.col("text")).alias("text"),
                "source",
            )
        ).unionByName(
            spark.createDataFrame(
                [(900 + i, f"new {i}", "s9") for i in range(5)],
                "doc_id long, text string, source string",
            )
        )
        # writer crash after the 2nd live->trash rename: s0 fully
        # swapped, s1 displaced into trash (live missing), s2 untouched,
        # s9 staged but never swapped — same mixed state as the
        # mid-swap rollback test
        real_rename = os.rename
        trash_renames = [0]

        def writer_crash(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                trash_renames[0] += 1
                if trash_renames[0] == 2:
                    raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", writer_crash)
        with pytest.raises(RuntimeError, match="simulated mid-swap crash"):
            corpus_io.upsert_corpus(delta, out)
        # first recovery dies BEFORE its 2nd restore rename: s0 (the
        # swapped-in partition) is rolled back, s1 is still in trash
        restores = [0]

        def recovery_crash(src, dst):
            if f"{os.sep}_trash_" in src:
                restores[0] += 1
                if restores[0] == 2:
                    raise RuntimeError("simulated recovery crash")
            real_rename(src, dst)

        monkeypatch.setattr(corpus_io.os, "rename", recovery_crash)
        with pytest.raises(RuntimeError, match="simulated recovery crash"):
            corpus_io.recover_corpus(out, spark)
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        # partial rollback on disk: s0 restored, s1 still displaced
        assert os.path.isdir(os.path.join(out, "source=s0"))
        assert not os.path.isdir(os.path.join(out, "source=s1"))
        assert [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        # second recovery converges: restores the remainder, does NOT
        # delete the already-restored s0 (the pre-r12 hole), and the
        # corpus hash-matches its committed state
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_back"], report
        assert "source=s1" in report["restored"]
        assert "source=s0" not in report.get("removed_new", [])
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        after = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        assert after == before
        assert corpus_io.verify_manifest(spark, out)
        # and a third call over the now-clean corpus is a no-op
        assert corpus_io.recover_corpus(out, spark) == {
            "discarded_staging": [], "rolled_back": [],
            "rolled_forward": [], "restored": [], "removed_new": [],
        }
        # documented protocol completes: re-run the failed operation
        corpus_io.upsert_corpus(delta, out)
        final = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(out).collect()
        }
        assert final[0] == "UPD base 0" and final[900] == "new 0"
        assert corpus_io.verify_manifest(spark, out)


def _mp_lease_worker(out_dir: str, worker_id: int, cycles: int,
                     go_file: str, result_path: str) -> None:
    """Cross-process hammer body (module-level: a spawn target must be
    importable). The contended section is plain file IO on purpose —
    the LEASE PROTOCOL (hard-link create, rename-aside break/release)
    is what's under test, and it arbitrates PROCESSES with independent
    interpreters and page caches, which the r10 intra-process thread
    hammer could not exercise. Spark never starts in the children."""
    import json
    import os
    import time

    from flink_stream_processing_refarch_spark.operators import corpus_io

    while not os.path.exists(go_file):  # synchronized start: maximal contention
        time.sleep(0.002)
    held = [0]
    for c in range(cycles):
        def cycle(c=c):
            with corpus_io.corpus_lease(out_dir, f"w{worker_id}") as tok:
                ledger = os.path.join(out_dir, "ledger.json")
                with open(ledger) as f:
                    state = json.load(f)
                time.sleep(0.01)  # widen the read-modify-write window
                state["count"] += 1
                state["log"].append([worker_id, c])
                corpus_io.check_lease(out_dir, tok)
                tmp = f"{ledger}.tmp.{worker_id}"
                with open(tmp, "w") as f:
                    json.dump(state, f)
                os.replace(tmp, ledger)

        corpus_io.retry_on_lease_held(
            cycle, max_wait_sec=300, backoff_sec=0.01,
            on_held=lambda _e: held.__setitem__(0, held[0] + 1),
        )
    with open(result_path, "w") as f:
        json.dump({
            "breaks": corpus_io.BREAK_COUNT,
            "restored": corpus_io.BREAK_RESTORED_COUNT,
            "held_retries": held[0],
        }, f)


def test_lease_hammer_across_processes(tmp_path):
    """VERDICT r10 #3: the r10 hammer ran threads in ONE interpreter,
    which share the filesystem view the lease is supposed to arbitrate
    ACROSS processes. Here 4 separate spawned Python processes run 6
    read-modify-write cycles each against one corpus dir, started
    simultaneously (go-file barrier). Observed cross-process behavior:
    every cycle serializes through retry-on-held (hundreds of held
    retries at this contention level), the ledger converges to the
    exact serial count with every (worker, cycle) pair present exactly
    once — no lost update — and with the default TTL the break path
    never fires in any process. No lease or aside file survives."""
    import json as _json
    import multiprocessing as mp

    out = str(tmp_path)
    ledger = os.path.join(out, "ledger.json")
    with open(ledger, "w") as f:
        _json.dump({"count": 0, "log": []}, f)
    go_file = os.path.join(out, "go")
    N, CYCLES = 4, 6
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(
            target=_mp_lease_worker,
            args=(out, w, CYCLES, go_file, os.path.join(out, f"res{w}.json")),
        )
        for w in range(N)
    ]
    for p in procs:
        p.start()
    with open(go_file, "w") as f:
        f.write("go")
    for p in procs:
        p.join(timeout=300)
    assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
    with open(ledger) as f:
        state = _json.load(f)
    assert state["count"] == N * CYCLES  # no lost update
    assert sorted(map(tuple, state["log"])) == sorted(
        (w, c) for w in range(N) for c in range(CYCLES)
    )
    results = []
    for w in range(N):
        with open(os.path.join(out, f"res{w}.json")) as f:
            results.append(_json.load(f))
    assert sum(r["breaks"] for r in results) == 0
    assert sum(r["restored"] for r in results) == 0
    # contention really happened across process boundaries
    assert sum(r["held_retries"] for r in results) > 0
    assert not os.path.exists(os.path.join(out, corpus_io.LEASE))
    assert not [p for p in os.listdir(out) if ".broken." in p]


def _mp_sigkill_mid_swap_worker(out_dir: str, ready_file: str) -> None:
    """SIGKILL target (module-level: a spawn target must be
    importable): acquire the REAL lease, then reproduce
    ``_staged_swap_write``'s exact on-disk sequence — staged partition
    + ``_swaplist.json``, fence, empty-trash marker, live->trash
    rename — and halt between a partition's two renames, signalling
    the parent and sleeping until SIGKILLed. Unlike the monkeypatched
    crash tests, NOTHING after the kill runs: no except path, no
    context-manager release — the lease stays on disk exactly as a
    machine crash would leave it."""
    import json
    import os
    import shutil
    import time

    from flink_stream_processing_refarch_spark.operators import corpus_io

    lease = corpus_io.corpus_lease(out_dir, "upsert")
    token = lease.__enter__()  # deliberately never exited
    staging = os.path.join(out_dir, f"_staging_{token}")
    trash = os.path.join(out_dir, f"_trash_{token}")
    pkey = "source=s0"
    shutil.copytree(os.path.join(out_dir, pkey), os.path.join(staging, pkey))
    with open(os.path.join(staging, corpus_io.SWAPLIST), "w") as f:
        json.dump([pkey], f)
    corpus_io.check_lease(out_dir, token)
    os.makedirs(trash, exist_ok=True)
    os.rename(os.path.join(out_dir, pkey), os.path.join(trash, pkey))
    with open(ready_file, "w") as f:
        f.write(token)
    time.sleep(300)  # parent SIGKILLs here


def test_recover_corpus_after_sigkilled_writer(spark):
    """r11: true cross-process kill-mid-swap recovery. The
    monkeypatched crash tests raise INSIDE the writer, so the lease
    context manager still releases on the way out; a SIGKILL runs
    nothing — the dead holder's lease survives on disk. recover_corpus
    must then refuse with MaintenanceLeaseHeld while the lease is
    un-expired (a crashed holder is indistinguishable from a slow one
    until its TTL — the documented arbitration), and after the TTL
    passes it must break the lease, roll the mixed state back to the
    last committed corpus, and leave it writable."""
    import json as _json
    import multiprocessing as mp
    import time as _time

    import pytest

    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        ready = os.path.join(base, "ready")
        ctx = mp.get_context("spawn")
        p = ctx.Process(
            target=_mp_sigkill_mid_swap_worker, args=(out, ready)
        )
        p.start()
        try:
            # generous window (r12, ADVICE r11): the spawned child pays
            # the full pyspark import cost before reaching mid-swap,
            # which can take minutes on a loaded CI box; the happy path
            # is unaffected (this polls)
            for _ in range(3600):
                if os.path.exists(ready):
                    break
                _time.sleep(0.1)
            else:
                pytest.fail("child never reached the mid-swap window")
        finally:
            p.kill()  # SIGKILL: no finally blocks, no lease release
            p.join(30)
        lease_path = os.path.join(out, corpus_io.LEASE)
        assert os.path.exists(lease_path), "SIGKILL should leave the lease"
        assert not os.path.isdir(os.path.join(out, "source=s0"))
        # fresh dead holder == slow holder: recovery must WAIT, not act
        with pytest.raises(corpus_io.MaintenanceLeaseHeld):
            corpus_io.recover_corpus(out, spark)
        # ... and must not have touched the crash state while refusing
        assert not os.path.isdir(os.path.join(out, "source=s0"))
        # fast-forward time: age the dead holder's lease past its TTL
        with open(lease_path) as f:
            held = _json.load(f)
        held["acquired_at"] = _time.time() - 2 * float(held["ttl_sec"])
        with open(lease_path, "w") as f:
            _json.dump(held, f)
        breaks0 = corpus_io.BREAK_COUNT
        report = corpus_io.recover_corpus(out, spark)
        assert corpus_io.BREAK_COUNT == breaks0 + 1  # stale lease broken
        assert report["rolled_back"]
        assert "source=s0" in report["restored"]
        after = {
            r["doc_id"]: (r["text"], r["source"])
            for r in spark.read.parquet(out).collect()
        }
        assert after == before
        assert corpus_io.verify_manifest(spark, out)
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        assert not os.path.exists(lease_path)
        # the corpus is writable again: re-run of the failed op works
        delta = spark.createDataFrame(
            [(0, "UPD base 0", "s0")],
            "doc_id long, text string, source string",
        )
        corpus_io.upsert_corpus(delta, out)
        assert spark.read.parquet(out).filter(
            F.col("doc_id") == 0
        ).collect()[0]["text"] == "UPD base 0"


# ---------------------------------------------------------------------------
# Schema evolution (r12): manifest-recorded schema, no-rewrite widening
# ---------------------------------------------------------------------------


def _evo_docs(spark):
    return spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )


def test_upsert_schema_mismatch_without_flag_raises(spark):
    """A delta whose columns differ from the corpus must fail LOUDLY
    naming the diff unless evolution is opted into — silent widening
    (or worse, silent null-ing of an omitted column) would be a
    data-erasing default."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        wider = docs.limit(5).withColumn("lang", F.lit("en"))
        with pytest.raises(ValueError, match=r"delta-only columns.*lang"):
            corpus_io.upsert_corpus(wider, out)
        narrower = docs.limit(5).drop("text")
        with pytest.raises(ValueError, match=r"corpus-only columns.*text"):
            corpus_io.upsert_corpus(narrower, out)
        # corpus untouched by the refused upserts
        assert corpus_io.verify_manifest(spark, out)


def test_schema_evolution_end_to_end(spark):
    """Widen via upsert: evolved keys carry the new column, untouched
    partitions' FILES stay byte-identical (no rewrite) yet read back
    NULL under the manifest schema; compaction preserves the evolved
    content including the nulls; a second evolution stacks."""
    import glob as _glob

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out, max_records_per_file=7)
        before_s2 = sorted(_glob.glob(os.path.join(out, "source=s2", "*")))
        delta = docs.filter(
            (F.col("doc_id") % 2 == 0) & (F.col("source") == "s0")
        ).withColumn("lang", F.when(F.col("doc_id") % 4 == 0, "en")
                     .otherwise("de"))
        m = corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        assert "lang" in [f["name"] for f in m["schema"]["fields"]]
        # untouched partition: same files, byte-identical set
        assert sorted(_glob.glob(os.path.join(out, "source=s2", "*"))) \
            == before_s2
        back = corpus_io.read_corpus(spark, out)
        assert back.schema["doc_id"].dataType.typeName() == "long"
        got = {r["doc_id"]: r["lang"] for r in back.collect()}
        assert len(got) == 60
        for i in range(60):
            if i % 2 == 0 and i % 3 == 0:
                assert got[i] == ("en" if i % 4 == 0 else "de"), i
            else:
                assert got[i] is None, i
        assert corpus_io.verify_manifest(spark, out)
        # maintenance on the evolved corpus preserves content + nulls
        rep = corpus_io.compact_corpus(spark, out, target_rows_per_file=100)
        assert rep["compacted"]
        got2 = {r["doc_id"]: r["lang"]
                for r in corpus_io.read_corpus(spark, out).collect()}
        assert got2 == got
        # second evolution stacks a second column
        delta2 = docs.filter(
            (F.col("doc_id") % 5 == 0) & (F.col("source") == "s1")
        ).withColumn("lang", F.lit("fr")).withColumn("score", F.lit(7))
        m2 = corpus_io.upsert_corpus(delta2, out, allow_schema_evolution=True)
        names = [f["name"] for f in m2["schema"]["fields"]]
        assert "lang" in names and "score" in names
        final = {r["doc_id"]: (r["lang"], r["score"])
                 for r in corpus_io.read_corpus(spark, out).collect()}
        assert final[10] == ("fr", 7)          # evolved twice (s1, %5)
        assert final[0] == ("en", None)        # first evolution only
        assert final[1] == (None, None)        # never evolved
        assert corpus_io.verify_manifest(spark, out)


def test_evolution_delta_missing_column_nulls_replaced_keys(spark):
    """The documented destructive case: with evolution ON, a delta that
    OMITS an existing column replaces its keys' values there with NULL
    (whole-row replacement) — while rows the delta does not touch keep
    their values."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.filter(F.col("doc_id").isin(3, 9)).drop("text")
        corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        back = {r["doc_id"]: r["text"]
                for r in corpus_io.read_corpus(spark, out).collect()}
        assert back[3] is None and back[9] is None
        assert back[0] == "base 0" and back[6] == "base 6"


def test_read_corpus_legacy_manifest_fallback(spark):
    """A pre-r12 manifest has no schema field: read_corpus falls back
    to the single-footer schema (valid — a never-evolved corpus has one
    schema) and still returns the full table."""
    import json as _json

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        mpath = os.path.join(out, corpus_io.MANIFEST)
        with open(mpath) as f:
            m = _json.load(f)
        del m["schema"]
        with open(mpath, "w") as f:
            _json.dump(m, f)
        back = corpus_io.read_corpus(spark, out)
        assert back.count() == 60
        assert set(back.columns) == {"doc_id", "text", "source"}


def test_manifest_rebuild_recovers_union_schema(spark):
    """Crash between data commit and manifest dump on an EVOLVED
    corpus: the rebuild path cannot trust one footer (pre-evolution
    files lack the new column) — it must recover the mergeSchema UNION
    width, so the rebuilt manifest still knows about lang."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.filter(
            (F.col("doc_id") % 2 == 0) & (F.col("source") == "s0")
        ).withColumn("lang", F.lit("en"))
        corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        os.remove(os.path.join(out, corpus_io.MANIFEST))
        # any upsert rebuilds; this one is width-matched to the union
        delta2 = docs.filter(F.col("doc_id") == 1).withColumn(
            "lang", F.lit("de")
        )
        m = corpus_io.upsert_corpus(delta2, out, allow_schema_evolution=True)
        assert "lang" in [f["name"] for f in m["schema"]["fields"]]
        assert m["total_rows"] == 60
        got = {r["doc_id"]: r["lang"]
               for r in corpus_io.read_corpus(spark, out).collect()}
        assert got[1] == "de" and got[0] == "en" and got[5] is None
        assert corpus_io.verify_manifest(spark, out)


def test_streaming_upsert_evolves_mid_stream(spark):
    """Continuous-ingest evolution: an early epoch merges the narrow
    schema, a later epoch arrives WIDER — upsert_corpus_retrying passes
    allow_schema_evolution through, the corpus widens at that epoch,
    and rows from pre-evolution epochs read back NULL for the new
    column."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        # epoch 1: narrow delta (text update only)
        e1 = docs.filter(F.col("doc_id").isin(0, 3)).select(
            "doc_id", F.concat(F.lit("E1 "), F.col("text")).alias("text"),
            "source",
        )
        corpus_io.upsert_corpus_retrying(e1, out)
        # epoch 2: wider delta — evolution happens mid-stream
        e2 = docs.filter(F.col("doc_id").isin(6, 9)).select(
            "doc_id", F.concat(F.lit("E2 "), F.col("text")).alias("text"),
            "source", F.lit("en").alias("lang"),
        )
        corpus_io.upsert_corpus_retrying(
            e2, out, allow_schema_evolution=True
        )
        back = {r["doc_id"]: (r["text"], r["lang"])
                for r in corpus_io.read_corpus(spark, out).collect()}
        assert back[0] == ("E1 base 0", None)
        assert back[6] == ("E2 base 6", "en")
        assert back[12] == ("base 12", None)
        assert corpus_io.verify_manifest(spark, out)


def test_recover_corpus_rolls_back_crashed_evolving_upsert(
    spark, monkeypatch
):
    """A writer SIGKILLed (simulated) mid-swap while performing an
    EVOLVING upsert: the manifest dump never ran, so the committed
    manifest still records the narrow pre-evolution schema — rollback
    must restore the pre-evolution corpus exactly, and read_corpus must
    return the NARROW width afterwards (the widened schema died with
    the crashed writer, by design: the manifest dump is the commit
    point)."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: (r["text"], r["source"])
            for r in corpus_io.read_corpus(spark, out).collect()
        }
        delta = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", F.concat(F.lit("EVO "), F.col("text")).alias("text"),
            F.lit("s0").alias("source"), F.lit("en").alias("lang"),
        )
        real_rename = os.rename
        trash_renames = [0]

        def crashing_rename(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                trash_renames[0] += 1
                raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated mid-swap crash"):
            corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_back"]
        back = corpus_io.read_corpus(spark, out)
        assert set(back.columns) == {"doc_id", "text", "source"}  # narrow
        after = {
            r["doc_id"]: (r["text"], r["source"]) for r in back.collect()
        }
        assert after == before
        # the documented protocol completes: re-run the failed upsert
        m = corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        assert "lang" in [f["name"] for f in m["schema"]["fields"]]
        assert corpus_io.verify_manifest(spark, out)


# ---------------------------------------------------------------------------
# Predicate deletes (r12): takedown operator
# ---------------------------------------------------------------------------


def test_delete_from_corpus_basic_and_whole_partition(spark):
    """Scattered deletes rewrite only matching partitions; a source
    whose every row matches is REMOVED (dir gone, manifest key gone);
    non-matching partitions stay byte-identical."""
    import glob as _glob

    docs = _evo_docs(spark)  # sources s0/s1/s2, 20 docs each
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before_s1 = sorted(_glob.glob(os.path.join(out, "source=s1", "*")))
        # delete all of s2 + every 4th doc in s0; s1 untouched
        rep = corpus_io.delete_from_corpus(
            spark, out,
            (F.col("source") == "s2")
            | ((F.col("source") == "s0") & (F.col("doc_id") % 4 == 0)),
        )
        assert rep["removed_partitions"] == ["source=s2"]
        assert not os.path.isdir(os.path.join(out, "source=s2"))
        assert "source=s2" not in rep["manifest"]["partitions"]
        assert sorted(_glob.glob(os.path.join(out, "source=s1", "*"))) \
            == before_s1
        back = corpus_io.read_corpus(spark, out)
        ids = {r["doc_id"] for r in back.collect()}
        assert not any(i % 3 == 2 for i in ids)          # s2 gone
        assert not any(i % 3 == 0 and i % 4 == 0 for i in ids)
        assert 3 in ids and 1 in ids
        assert rep["deleted_rows"] == 60 - len(ids)
        assert rep["manifest"]["total_rows"] == len(ids)
        assert corpus_io.verify_manifest(spark, out)
        # no-op delete: nothing matches
        rep2 = corpus_io.delete_from_corpus(
            spark, out, F.col("doc_id") == -1
        )
        assert rep2["deleted_rows"] == 0
        assert corpus_io.verify_manifest(spark, out)


def test_delete_keeps_null_condition_rows(spark):
    """Three-valued logic: rows where the condition evaluates NULL are
    KEPT — a takedown names its rows, it must not silently widen."""
    docs = spark.createDataFrame(
        [(1, "keep", "s0"), (2, None, "s0"), (3, "del-me", "s0")],
        "doc_id long, text string, source string",
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        rep = corpus_io.delete_from_corpus(
            spark, out, F.col("text").startswith("del")
        )
        assert rep["deleted_rows"] == 1
        ids = sorted(
            r["doc_id"] for r in corpus_io.read_corpus(spark, out).collect()
        )
        assert ids == [1, 2]  # the NULL-text row survived


def test_delete_condition_on_evolved_column(spark):
    """A delete predicate over a column added by schema evolution: the
    delete's read goes through the manifest schema, so pre-evolution
    rows see the column as NULL (kept), and only the evolved TRUE rows
    go."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.filter(F.col("doc_id").isin(0, 6, 12)).withColumn(
            "lang", F.when(F.col("doc_id") == 6, "xx").otherwise("en")
        )
        corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        rep = corpus_io.delete_from_corpus(
            spark, out, F.col("lang") == "xx"
        )
        assert rep["deleted_rows"] == 1
        back = {r["doc_id"]: r["lang"]
                for r in corpus_io.read_corpus(spark, out).collect()}
        assert 6 not in back and back[0] == "en" and back[1] is None
        assert corpus_io.verify_manifest(spark, out)


def test_recover_corpus_rolls_back_crashed_delete(spark, monkeypatch):
    """A writer crashed mid-swap during a delete — including a
    whole-partition removal already displaced into trash — rolls back
    to the pre-delete corpus exactly (the manifest dump is the commit
    point), after which re-running the delete converges."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: r["text"]
            for r in corpus_io.read_corpus(spark, out).collect()
        }
        cond = (F.col("source") == "s1") | (
            (F.col("source") == "s2") & (F.col("doc_id") % 2 == 0)
        )
        real_rename = os.rename
        trash_renames = [0]

        def crashing_rename(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                trash_renames[0] += 1
                if trash_renames[0] == 2:
                    raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated mid-swap crash"):
            corpus_io.delete_from_corpus(spark, out, cond)
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_back"]
        after = {
            r["doc_id"]: r["text"]
            for r in corpus_io.read_corpus(spark, out).collect()
        }
        assert after == before  # the takedown was fully undone
        rep = corpus_io.delete_from_corpus(spark, out, cond)
        assert rep["removed_partitions"] == ["source=s1"]
        assert corpus_io.verify_manifest(spark, out)


def test_recover_rolls_forward_committed_delete_residue(spark, monkeypatch):
    """r12 review: delete defers its trash cleanup past the manifest
    dump (the commit point). A crash BETWEEN the dump and the cleanup
    leaves trash+staging on disk with a manifest that already commits
    the removals — recover_corpus must roll FORWARD (drop the residue;
    the manifest carries the crashed writer's token), never resurrect
    the deleted partition, and the corpus must verify."""
    import shutil as _shutil

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        real_rmtree = _shutil.rmtree

        def crashing_rmtree(path, *a, **k):
            if f"{os.sep}_staging_" in str(path) or \
                    f"{os.sep}_trash_" in str(path):
                raise RuntimeError("simulated post-commit crash")
            return real_rmtree(path, *a, **k)

        monkeypatch.setattr("shutil.rmtree", crashing_rmtree)
        with pytest.raises(RuntimeError, match="simulated post-commit"):
            corpus_io.delete_from_corpus(
                spark, out, F.col("source") == "s1"
            )
        monkeypatch.setattr("shutil.rmtree", real_rmtree)
        # the manifest committed the removal; residue is on disk
        import json as _json

        with open(os.path.join(out, corpus_io.MANIFEST)) as f:
            m = _json.load(f)
        assert "source=s1" not in m["partitions"]
        assert [d for d in os.listdir(out)
                if d.startswith(("_staging_", "_trash_"))]
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_forward"], report
        assert report["rolled_back"] == [] and report["restored"] == []
        assert not os.path.isdir(os.path.join(out, "source=s1"))
        assert not [d for d in os.listdir(out)
                    if d.startswith(("_staging_", "_trash_"))]
        back = corpus_io.read_corpus(spark, out)
        assert back.filter(F.col("source") == "s1").count() == 0
        assert back.count() == 40
        assert corpus_io.verify_manifest(spark, out)


# ---------------------------------------------------------------------------
# r13: durable commit log, manifest history, type-change guard,
#      column redaction, vacuum (right-to-be-forgotten byte loop)
# ---------------------------------------------------------------------------


def _sweep_bytes(root: str, needle: bytes) -> list[str]:
    """Every file under ``root`` (hidden dirs/files INCLUDED — residue
    is exactly what hides there) whose raw bytes contain ``needle``."""
    hits = []
    for r, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(r, fn)
            with open(p, "rb") as f:
                if needle in f.read():
                    hits.append(p)
    return hits


def test_upsert_rejects_shared_column_type_change(spark):
    """ADVICE r12 #2: the extra/narrow guard compared NAMES only — a
    same-width delta with a retyped shared column slipped through,
    unionByName silently widened, and the coerced schema became the
    manifest authority while untouched partitions' files held the old
    physical type. A retype must raise, with or without the evolution
    flag."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        retyped = docs.limit(3).withColumn(
            "doc_id", F.col("doc_id").cast("double")
        )
        for flag in (False, True):
            with pytest.raises(ValueError, match="never retypes"):
                corpus_io.upsert_corpus(
                    retyped, out, allow_schema_evolution=flag
                )
        # a retyped PARTITION column is caught against the manifest-
        # recorded schema (the read-back is structurally string there)
        part_retyped = docs.limit(3).withColumn(
            "source", F.lit(1).cast("int")
        )
        with pytest.raises(ValueError, match="never retypes"):
            corpus_io.upsert_corpus(
                part_retyped, out, allow_schema_evolution=True
            )
        # the corpus is untouched and still verifies
        assert corpus_io.verify_manifest(spark, out)
        # LOSSLESS upcast direction is fine: an int delta into a bigint
        # corpus casts UP to the corpus type — the manifest authority
        # never moves
        m = corpus_io.upsert_corpus(
            docs.filter(F.col("doc_id") == 1).withColumn(
                "doc_id", F.col("doc_id").cast("int")
            ).withColumn("text", F.lit("upcast")),
            out,
        )
        fields = {
            f["name"]: f["type"] for f in m["schema"]["fields"]
        }
        assert fields["doc_id"] == "long"  # corpus type, not delta's
        back = corpus_io.read_corpus(spark, out)
        assert back.schema["doc_id"].dataType.simpleString() == "bigint"
        assert back.filter(F.col("doc_id") == 1).collect()[0]["text"] \
            == "upcast"


def test_manifest_commit_log_and_history(spark, monkeypatch):
    """r13 (ADVICE r12 #1 + VERDICT r12 #8): every _dump_manifest
    appends its token to the manifest's durable ``committed_tokens``
    log (in commit order, atomic with the commit itself) and mirrors
    the stamped manifest into ``_manifest_history/``, pruned to the
    log's tail."""
    import json as _json

    monkeypatch.setattr(corpus_io, "MANIFEST_HISTORY_KEEP", 2)
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        m1 = corpus_io.upsert_corpus(
            docs.limit(2).withColumn("text", F.lit("u1")), out
        )
        m2 = corpus_io.delete_from_corpus(
            spark, out, F.col("doc_id") == 59
        )["manifest"]
        toks = [m["writer_token"] for m in (m0, m1, m2)]
        assert m2["committed_tokens"] == toks  # commit order, durable
        with open(os.path.join(out, corpus_io.MANIFEST)) as f:
            assert _json.load(f)["committed_tokens"] == toks
        hist = os.path.join(out, corpus_io.MANIFEST_HISTORY)
        names = sorted(os.listdir(hist))
        # pruned to the last KEEP=2 tokens of the log
        assert names == sorted(f"manifest_{t}.json" for t in toks[-2:])
        # each history entry is the manifest that commit produced
        with open(os.path.join(hist, f"manifest_{toks[-1]}.json")) as f:
            assert _json.load(f) == m2


def test_recover_rolls_forward_stale_residue_after_subsequent_commit(
    spark, monkeypatch
):
    """THE ADVICE r12 #1 scenario: a delete commits its manifest,
    crashes before cleanup, the lease ages out, and a SUBSEQUENT
    writer commits (moving ``writer_token`` past the delete's) before
    recovery runs. The latest-token-only r12 check misclassified the
    stale residue as pre-commit and rolled it BACK — resurrecting the
    taken-down partition. The durable commit log must roll it
    FORWARD."""
    import shutil as _shutil

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        real_rmtree = _shutil.rmtree

        def crashing_rmtree(path, *a, **k):
            if f"{os.sep}_staging_" in str(path) or \
                    f"{os.sep}_trash_" in str(path):
                raise RuntimeError("simulated post-commit crash")
            return real_rmtree(path, *a, **k)

        monkeypatch.setattr("shutil.rmtree", crashing_rmtree)
        with pytest.raises(RuntimeError, match="simulated post-commit"):
            corpus_io.delete_from_corpus(spark, out, F.col("source") == "s1")
        monkeypatch.setattr("shutil.rmtree", real_rmtree)
        import json as _json

        with open(os.path.join(out, corpus_io.MANIFEST)) as f:
            del_tok = _json.load(f)["writer_token"]
        # the subsequent commit: writer_token moves past the delete's
        m2 = corpus_io.upsert_corpus(
            docs.filter(F.col("source") == "s0").limit(2).withColumn(
                "text", F.lit("after-delete")
            ),
            out,
        )
        assert m2["writer_token"] != del_tok
        assert del_tok in m2["committed_tokens"]
        report = corpus_io.recover_corpus(out, spark)
        assert del_tok in report["rolled_forward"], report
        assert report["rolled_back"] == [] and report["restored"] == []
        assert not os.path.isdir(os.path.join(out, "source=s1"))
        back = corpus_io.read_corpus(spark, out)
        assert back.filter(F.col("source") == "s1").count() == 0
        assert corpus_io.verify_manifest(spark, out)


def test_redact_column_end_to_end(spark):
    """r13 (VERDICT r12 #2 gap): column-level takedown — the column is
    physically absent from every rewritten file, the manifest schema
    is narrowed (first narrowing evolution), counts are unchanged, and
    after the deferred cleanup + vacuum no redacted byte survives
    anywhere under the corpus root."""
    import pyarrow.parquet as _pq

    docs = _evo_docs(spark).withColumn(
        "ssn", F.concat(F.lit("SSN-SECRET-"), F.col("doc_id"))
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        assert _sweep_bytes(out, b"SSN-SECRET-")  # the bytes were there
        rep = corpus_io.redact_column_from_corpus(spark, out, "ssn")
        m = rep["manifest"]
        assert rep["redacted_column"] == "ssn"
        assert m["partitions"] == m0["partitions"]
        assert m["total_rows"] == m0["total_rows"]
        names = [f["name"] for f in m["schema"]["fields"]]
        assert "ssn" not in names and "text" in names
        for r, dirs, files in os.walk(out):
            for fn in files:
                if fn.endswith(".parquet"):
                    pf = _pq.ParquetFile(os.path.join(r, fn))
                    assert "ssn" not in pf.schema_arrow.names
        corpus_io.vacuum_corpus(out, spark)
        assert _sweep_bytes(out, b"SSN-SECRET-") == []
        back = corpus_io.read_corpus(spark, out)
        assert sorted(back.columns) == ["doc_id", "source", "text"]
        assert back.count() == 60
        assert corpus_io.verify_manifest(spark, out)


def test_redact_refuses_partition_and_missing_column(spark):
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        with pytest.raises(ValueError, match="partition"):
            corpus_io.redact_column_from_corpus(spark, out, "source")
        with pytest.raises(ValueError, match="no column"):
            corpus_io.redact_column_from_corpus(spark, out, "nope")
        assert corpus_io.verify_manifest(spark, out)


def test_recover_rolls_back_crashed_redact_mid_swap(spark, monkeypatch):
    """A redact killed between swap renames rolls BACK (its narrowed
    manifest never committed): the original corpus — column included —
    is restored, and re-running the redact converges."""
    import pytest

    docs = _evo_docs(spark).withColumn(
        "ssn", F.concat(F.lit("SSN-SECRET-"), F.col("doc_id"))
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        before = {
            r["doc_id"]: (r["text"], r["ssn"])
            for r in corpus_io.read_corpus(spark, out).collect()
        }
        real_rename = os.rename
        trash_renames = [0]

        def crashing_rename(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                trash_renames[0] += 1
                if trash_renames[0] == 2:
                    raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated mid-swap"):
            corpus_io.redact_column_from_corpus(spark, out, "ssn")
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_back"], report
        after = {
            r["doc_id"]: (r["text"], r["ssn"])
            for r in corpus_io.read_corpus(spark, out).collect()
        }
        assert after == before  # pre-redact corpus restored exactly
        # the documented protocol: re-run, then certify the byte loop
        corpus_io.redact_column_from_corpus(spark, out, "ssn")
        corpus_io.vacuum_corpus(out, spark)
        assert _sweep_bytes(out, b"SSN-SECRET-") == []
        assert "ssn" not in corpus_io.read_corpus(spark, out).columns


def test_vacuum_closes_right_to_be_forgotten_byte_loop(spark, monkeypatch):
    """VERDICT r12 #3: after a takedown, the deleted rows' bytes must
    not survive ANYWHERE under the corpus root — including crash
    residue. Both roll directions:

    - post-commit crash (manifest committed, cleanup died): vacuum
      rolls the residue forward and the bytes are gone;
    - pre-commit crash (killed mid-swap): recovery legitimately
      RESTORES the rows (the takedown never committed); re-running the
      takedown + vacuum then destroys the bytes."""
    import shutil as _shutil

    import pytest

    docs = _evo_docs(spark).withColumn(
        "text",
        F.when(
            F.col("source") == "s1",
            F.concat(F.lit("FORGETME-"), F.col("doc_id")),
        ).otherwise(F.col("text")),
    )
    real_rmtree = _shutil.rmtree

    def crashing_rmtree(path, *a, **k):
        if f"{os.sep}_staging_" in str(path) or \
                f"{os.sep}_trash_" in str(path):
            raise RuntimeError("simulated post-commit crash")
        return real_rmtree(path, *a, **k)

    # direction 1: post-commit crash -> vacuum rolls forward
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        monkeypatch.setattr("shutil.rmtree", crashing_rmtree)
        with pytest.raises(RuntimeError, match="simulated post-commit"):
            corpus_io.delete_from_corpus(spark, out, F.col("source") == "s1")
        monkeypatch.setattr("shutil.rmtree", real_rmtree)
        assert _sweep_bytes(out, b"FORGETME-")  # residue holds the bytes
        report = corpus_io.vacuum_corpus(out, spark)
        assert report["rolled_forward"], report
        assert _sweep_bytes(out, b"FORGETME-") == []
        assert corpus_io.verify_manifest(spark, out)

    # direction 2: pre-commit crash -> recovery restores, re-run, vacuum
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        real_rename = os.rename

        def crashing_rename(src, dst):
            real_rename(src, dst)
            if f"{os.sep}_trash_" in dst:
                raise RuntimeError("simulated mid-swap crash")

        monkeypatch.setattr(corpus_io.os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated mid-swap"):
            corpus_io.delete_from_corpus(spark, out, F.col("source") == "s1")
        monkeypatch.setattr(corpus_io.os, "rename", real_rename)
        report = corpus_io.vacuum_corpus(out, spark)  # rolls BACK
        assert report["rolled_back"], report
        # the takedown never committed: rows are legitimately live
        assert corpus_io.read_corpus(spark, out).filter(
            F.col("source") == "s1"
        ).count() == 20
        # the documented protocol: re-run the takedown, then vacuum
        corpus_io.delete_from_corpus(spark, out, F.col("source") == "s1")
        corpus_io.vacuum_corpus(out, spark)
        assert _sweep_bytes(out, b"FORGETME-") == []
        assert corpus_io.verify_manifest(spark, out)


def test_vacuum_sweeps_stale_lease_droppings(spark):
    """Phase 2 of vacuum: aged-out lease/manifest temp droppings (a
    crashed acquirer's .tmp, a breaker's aside file) are swept; fresh
    ones are NOT (a live writer may own them)."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        stale = [
            corpus_io.LEASE + ".123-999.tmp",
            corpus_io.LEASE + ".broken.123-999",
            corpus_io.MANIFEST + ".tmp",
        ]
        for name in stale:
            with open(os.path.join(out, name), "w") as f:
                f.write("{}")
            os.utime(os.path.join(out, name), (1.0, 1.0))  # ancient
        fresh = corpus_io.LEASE + ".456-111.tmp"
        with open(os.path.join(out, fresh), "w") as f:
            f.write("{}")
        report = corpus_io.vacuum_corpus(out, spark)
        assert sorted(report["swept_files"]) == sorted(stale)
        assert os.path.exists(os.path.join(out, fresh))
        assert corpus_io.verify_manifest(spark, out)


def test_concurrent_writer_mix_matches_serialized_replay(spark, duck):
    """r13 (VERDICT r12 #6): the writer family (upsert / evolve-upsert /
    delete / compact / layout) hammered as RANDOM interleavings — N
    threads each run a seeded random op sequence against one corpus,
    serialized only by the lease. The manifest's durable
    ``committed_tokens`` log is the serialization witness: its order IS
    the order content-changing commits happened in, so the final corpus
    must equal that exact op sequence applied relationally in DuckDB.
    Any lease-arbitration bug (lost update, misordered commit, phantom
    dump) breaks the replay equality."""
    import random
    import threading

    docs = spark.range(0, 150).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("base "), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        errors: list[Exception] = []
        oplog: dict[str, tuple] = {}  # commit token -> (kind, payload)
        lock = threading.Lock()

        def retry(op):
            return corpus_io.retry_on_lease_held(
                op, max_wait_sec=300, backoff_sec=0.05
            )

        def run_ops(t):
            # base seed 100 chosen so the 3x4 mix covers every op
            # kind (1 upsert, 3 evolves, 3 deletes, 1 compact,
            # 4 layouts — verified by replaying the RNG)
            rng = random.Random(100 + t)
            try:
                for opnum in range(4):
                    kind = rng.choice(
                        ["upsert", "evolve", "delete", "compact", "layout"]
                    )
                    if kind in ("upsert", "evolve"):
                        ids = rng.sample(range(0, 200), rng.randint(4, 10))
                        tag = f"G{t}{opnum}" if kind == "evolve" else None
                        rows = [
                            (i, f"U{t}-{opnum}-{i}", f"s{i % 3}", tag)
                            for i in sorted(ids)
                        ]
                        if kind == "evolve":
                            delta = spark.createDataFrame(
                                rows,
                                "doc_id long, text string, source string,"
                                " tag string",
                            )
                        else:
                            delta = spark.createDataFrame(
                                [r[:3] for r in rows],
                                "doc_id long, text string, source string",
                            )
                        m = retry(
                            lambda d=delta: corpus_io.upsert_corpus(
                                d, out, allow_schema_evolution=True
                            )
                        )
                        with lock:
                            oplog[m["writer_token"]] = ("upsert", rows)
                    elif kind == "delete":
                        mmod = rng.choice([17, 19, 23])
                        rr = rng.randrange(mmod)
                        rep = retry(
                            lambda mm=mmod, r=rr: corpus_io.delete_from_corpus(
                                spark, out, F.col("doc_id") % mm == r
                            )
                        )
                        if rep["deleted_rows"] > 0:
                            with lock:
                                oplog[rep["manifest"]["writer_token"]] = (
                                    "delete", (mmod, rr)
                                )
                    elif kind == "compact":
                        retry(lambda: corpus_io.compact_corpus(spark, out))
                    else:
                        retry(
                            lambda: corpus_io.cluster_corpus_layout(
                                spark, out, target_rows_per_file=100
                            )
                        )
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=run_ops, args=(t,)) for t in (0, 1, 2)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        assert not errors, errors
        import json as _json

        with open(os.path.join(out, corpus_io.MANIFEST)) as f:
            committed = _json.load(f)["committed_tokens"]
        # the log's tail after the build token is exactly the content
        # ops, in commit order (compact/layout never dump a manifest)
        assert set(committed[1:]) == set(oplog), (committed, list(oplog))
        duck.execute(
            "CREATE OR REPLACE TEMP TABLE model("
            "doc_id BIGINT, text VARCHAR, source VARCHAR, tag VARCHAR)"
        )
        duck.executemany(
            "INSERT INTO model VALUES (?, ?, ?, NULL)",
            [(i, f"base {i}", f"s{i % 3}") for i in range(150)],
        )
        for tok in committed[1:]:
            kind, payload = oplog[tok]
            if kind == "upsert":
                duck.executemany(
                    "DELETE FROM model WHERE doc_id = ?",
                    [(r[0],) for r in payload],
                )
                duck.executemany(
                    "INSERT INTO model VALUES (?, ?, ?, ?)", payload
                )
            else:
                mmod, rr = payload
                duck.execute(
                    f"DELETE FROM model WHERE doc_id % {mmod} = {rr}"
                )
        expect = {
            r[0]: (r[1], r[2], r[3])
            for r in duck.execute("SELECT * FROM model").fetchall()
        }
        back = corpus_io.read_corpus(spark, out)
        has_tag = "tag" in back.columns
        got = {
            r["doc_id"]: (
                r["text"], r["source"], r["tag"] if has_tag else None
            )
            for r in back.collect()
        }
        assert got == expect
        assert corpus_io.verify_manifest(spark, out)
        # clean exit: no residue, no lease
        assert not [
            d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))
        ]
        assert not os.path.exists(os.path.join(out, corpus_io.LEASE))


# ---------------------------------------------------------------------------
# r13: manifest content fingerprints + changes-since CDC
# ---------------------------------------------------------------------------


def test_fingerprints_detect_count_equal_replacement(spark):
    """A replacement-only upsert keeps a partition's row count
    IDENTICAL — the exact change a count-only manifest is blind to.
    The per-partition fingerprint must move for the touched partition
    and be carried VERBATIM for untouched ones (no rescan)."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.filter(
            (F.col("source") == "s0") & (F.col("doc_id") % 2 == 0)
        ).withColumn("text", F.concat(F.lit("R "), F.col("text")))
        m1 = corpus_io.upsert_corpus(delta, out)
        assert m1["partitions"] == m0["partitions"]  # counts identical
        assert m1["fingerprints"]["source=s0"] != \
            m0["fingerprints"]["source=s0"]
        for k in ("source=s1", "source=s2"):
            assert m1["fingerprints"][k] == m0["fingerprints"][k]
        assert corpus_io.verify_manifest(spark, out)


def test_verify_manifest_is_content_sensitive(spark):
    """r13: a corrupted file with the RIGHT row count used to verify —
    the fingerprint check must catch a same-count content swap
    (external corruption, the case counts cannot see)."""
    import glob as _glob

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        assert corpus_io.verify_manifest(spark, out)
        # same-count corruption: rewrite one partition's rows with the
        # text mangled, row count preserved, outside any writer
        pdir = os.path.join(out, "source=s1")
        rows = spark.read.parquet(pdir).withColumn(
            "text", F.lit("MANGLED")
        ).collect()
        for f in _glob.glob(os.path.join(pdir, "*.parquet")):
            os.unlink(f)
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(pdir)
        back = corpus_io.read_corpus(spark, out)
        assert back.filter(F.col("source") == "s1").count() == 20
        assert not corpus_io.verify_manifest(spark, out)


def test_fingerprints_stable_across_schema_evolution(spark):
    """The row hash serializes through to_json, which omits null
    fields — so an untouched partition's recorded fingerprint stays
    valid after an evolution null-fills a new column over it, and the
    evolved corpus still verifies content-sensitively without any
    rescan of untouched partitions."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.filter(F.col("source") == "s0").limit(3).withColumn(
            "lang", F.lit("en")
        )
        m1 = corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        for k in ("source=s1", "source=s2"):  # untouched: carried
            assert m1["fingerprints"][k] == m0["fingerprints"][k]
        # content-sensitive verify under the EVOLVED manifest schema
        # must still pass for the pre-evolution fingerprints
        assert corpus_io.verify_manifest(spark, out)


def test_corpus_changes_since_end_to_end(spark):
    """changes-since CDC: replacement-only change (count-equal,
    fingerprint-detected), an ADDED partition, a REMOVED partition,
    untouched partitions absent from the report, the returned frame =
    the changed partitions' current content, same-token no-op, and the
    pruned/unknown-token retention contract."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        t0 = m0["writer_token"]
        # no commits since t0: empty report, empty frame
        ch0 = corpus_io.corpus_changes_since(spark, out, t0)
        assert ch0["changed"] == [] and ch0["removed"] == []
        assert ch0["df"].count() == 0
        # replacement-only upsert into s0 + a brand-new partition s9
        delta = docs.filter(
            (F.col("source") == "s0") & (F.col("doc_id") % 2 == 0)
        ).withColumn("text", F.concat(F.lit("R "), F.col("text")))
        new_part = spark.createDataFrame(
            [(900, "brand new", "s9")],
            "doc_id long, text string, source string",
        )
        corpus_io.upsert_corpus(delta.unionByName(new_part), out)
        corpus_io.delete_from_corpus(spark, out, F.col("source") == "s2")
        ch = corpus_io.corpus_changes_since(spark, out, t0)
        assert ch["changed"] == ["source=s0", "source=s9"]
        assert ch["removed"] == ["source=s2"]
        got = {
            r["doc_id"]: r["text"] for r in ch["df"].collect()
        }
        assert got[900] == "brand new"
        assert got[0].startswith("R ") and got[3] == "base 3"
        assert all(  # only s0 + s9 content came back
            v == "brand new" or v.startswith(("R ", "base"))
            for v in got.values()
        )
        assert len(got) == 21  # 20 rows of s0 + the new s9 row
        # retention contract: unknown/pruned token raises, naming the
        # fallback
        with pytest.raises(ValueError, match="full read_corpus"):
            corpus_io.corpus_changes_since(spark, out, "no-such-token")


def test_compact_refuses_to_bless_corrupted_content(spark):
    """r13 content-preservation fence: compaction's post-write check
    now compares fingerprints, so compacting a partition that was
    externally corrupted (same row count, different bytes) RAISES
    instead of silently re-blessing the corruption under the
    manifest."""
    import glob as _glob

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=3
        )
        pdir = os.path.join(out, "source=s1")
        rows = spark.read.parquet(pdir).withColumn(
            "text", F.lit("MANGLED")
        ).collect()
        for f in _glob.glob(os.path.join(pdir, "*.parquet")):
            os.unlink(f)
        # many small files so s1 stays in the compaction plan
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).repartition(10).write.mode("append").parquet(pdir)
        with pytest.raises(RuntimeError, match="did not preserve content"):
            corpus_io.compact_corpus(spark, out, target_rows_per_file=100)


def test_diagnose_corpus_names_the_diverged_commit(spark):
    """r13 (VERDICT r12 #8, second half): when a partition's bytes
    diverge from the current manifest, diagnose_corpus names the LAST
    commit whose recorded fingerprint matches what's on disk — commit
    forensics over the manifest history. Construct it by upserting s0
    twice (commits T1, T2) and then hand-restoring s0's T1-era files:
    diagnosis must flag exactly s0 and attribute the on-disk bytes to
    T1."""
    import shutil as _shutil

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        d1 = docs.filter(F.col("source") == "s0").withColumn(
            "text", F.concat(F.lit("V1 "), F.col("text"))
        )
        m1 = corpus_io.upsert_corpus(d1, out)
        t1 = m1["writer_token"]
        keep = os.path.join(base, "s0_at_t1")
        _shutil.copytree(os.path.join(out, "source=s0"), keep)
        d2 = docs.filter(F.col("source") == "s0").withColumn(
            "text", F.concat(F.lit("V2 "), F.col("text"))
        )
        corpus_io.upsert_corpus(d2, out)
        # pristine corpus diagnoses clean
        rep = corpus_io.diagnose_corpus(spark, out)
        assert rep["ok"] and rep["diverged"] == {}
        # external divergence: s0's T1-era files restored behind the
        # manifest's back
        _shutil.rmtree(os.path.join(out, "source=s0"))
        _shutil.copytree(keep, os.path.join(out, "source=s0"))
        assert not corpus_io.verify_manifest(spark, out)
        rep = corpus_io.diagnose_corpus(spark, out)
        assert not rep["ok"]
        assert list(rep["diverged"]) == ["source=s0"]
        assert rep["diverged"]["source=s0"]["last_matching_token"] == t1
        # counts are identical across V1/V2 — the attribution is
        # fingerprint-based
        assert (rep["diverged"]["source=s0"]["count_expected"]
                == rep["diverged"]["source=s0"]["count_found"])
        # bytes never recorded by ANY retained commit -> None
        spark.createDataFrame(
            [(1, "alien", )], "doc_id long, text string"
        ).write.mode("overwrite").parquet(os.path.join(out, "source=s0"))
        rep = corpus_io.diagnose_corpus(spark, out)
        assert rep["diverged"]["source=s0"]["last_matching_token"] is None


def test_changes_since_surfaces_schema_change(spark):
    """A widening evolution rewrites nothing, so untouched partitions
    are correctly NOT reported changed — but the consumer's target
    schema moved; changes_since must surface that as a corpus-level
    signal."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        t0 = m0["writer_token"]
        delta = docs.filter(F.col("source") == "s0").limit(2).withColumn(
            "lang", F.lit("en")
        )
        corpus_io.upsert_corpus(delta, out, allow_schema_evolution=True)
        ch = corpus_io.corpus_changes_since(spark, out, t0)
        assert ch["schema_changed"] is True
        assert ch["changed"] == ["source=s0"]  # only the delta's partition
        # a content-only change does NOT flag the schema
        rep = corpus_io.delete_from_corpus(spark, out, F.col("doc_id") == 1)
        ch2 = corpus_io.corpus_changes_since(
            spark, out, rep["manifest"]["writer_token"]
        )
        assert ch2["schema_changed"] is False
        assert ch2["changed"] == [] and ch2["removed"] == []


def test_recover_without_manifest_explains_itself(spark):
    """A corpus whose initial build crashed before its first manifest
    dump has nothing to recover FROM — recover/vacuum must say so
    descriptively (re-run the blind rebuild), not leak a bare
    FileNotFoundError."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        # the crashed-initial-build state: data landed, no manifest
        docs.write.partitionBy("source").parquet(out)
        with pytest.raises(RuntimeError, match="re-run write_partitioned"):
            corpus_io.recover_corpus(out)
        with pytest.raises(RuntimeError, match="re-run write_partitioned"):
            corpus_io.vacuum_corpus(out)
        # and the documented protocol works: the blind rebuild
        corpus_io.write_partitioned_corpus(docs, out)
        assert corpus_io.verify_manifest(spark, out)


def _mp_writer_mix_worker(out_dir, worker_id, go_file, result_file):
    """Spawn target (module-level, importable): its OWN SparkSession,
    a seeded random op sequence from the writer family, every commit
    token recorded with its op so the parent can replay the
    serialization order relationally."""
    import json
    import os
    import random
    import time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from flink_stream_processing_refarch_spark.operators import corpus_io

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName(f"mixworker{worker_id}")
        .getOrCreate()
    )
    while not os.path.exists(go_file):
        time.sleep(0.05)
    # base seed 7100: across 3 workers x 3 ops every kind appears
    # (2 upserts, 2 evolves, 3 deletes, 2 compacts — RNG-replayed)
    rng = random.Random(7100 + worker_id)
    oplog = {}

    def retry(op):
        return corpus_io.retry_on_lease_held(
            op, max_wait_sec=600, backoff_sec=0.1
        )

    for opnum in range(3):
        kind = rng.choice(["upsert", "evolve", "delete", "compact"])
        if kind in ("upsert", "evolve"):
            ids = rng.sample(range(0, 200), rng.randint(4, 8))
            tag = f"G{worker_id}{opnum}" if kind == "evolve" else None
            rows = [
                (i, f"U{worker_id}-{opnum}-{i}", f"s{i % 3}", tag)
                for i in sorted(ids)
            ]
            if kind == "evolve":
                delta = spark.createDataFrame(
                    rows,
                    "doc_id long, text string, source string, tag string",
                )
            else:
                delta = spark.createDataFrame(
                    [r[:3] for r in rows],
                    "doc_id long, text string, source string",
                )
            m = retry(
                lambda d=delta: corpus_io.upsert_corpus(
                    d, out_dir, allow_schema_evolution=True
                )
            )
            oplog[m["writer_token"]] = ["upsert", rows]
        elif kind == "delete":
            mmod = rng.choice([17, 19, 23])
            rr = rng.randrange(mmod)
            rep = retry(
                lambda mm=mmod, r=rr: corpus_io.delete_from_corpus(
                    spark, out_dir, F.col("doc_id") % mm == r
                )
            )
            if rep["deleted_rows"] > 0:
                oplog[rep["manifest"]["writer_token"]] = [
                    "delete", [mmod, rr]
                ]
        else:
            retry(lambda: corpus_io.compact_corpus(spark, out_dir))
    with open(result_file, "w") as f:
        json.dump(oplog, f)
    spark.stop()


def test_writer_mix_across_processes_matches_serialized_replay(
    spark, duck, tmp_path
):
    """VERDICT r12 #6, the literal shape: N SPAWNED PROCESSES (own
    SparkSessions, real cross-process lease arbitration) each run a
    seeded random writer-family op sequence against one corpus; the
    manifest's durable committed_tokens order is the serialization
    witness and the final corpus must equal that exact sequence
    replayed relationally in DuckDB. The thread variant covers all
    five writers cheaply; this one proves the arbitration holds where
    it actually matters — across interpreter/JVM boundaries."""
    import json as _json
    import multiprocessing as mp

    docs = spark.createDataFrame(
        [(i, f"base {i}", f"s{i % 3}") for i in range(150)],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "corpus")
    corpus_io.write_partitioned_corpus(docs, out)
    go_file = str(tmp_path / "go")
    ctx = mp.get_context("spawn")
    procs, results = [], []
    for w in range(3):
        res = str(tmp_path / f"mix{w}.json")
        results.append(res)
        procs.append(ctx.Process(
            target=_mp_writer_mix_worker, args=(out, w, go_file, res)
        ))
    for p in procs:
        p.start()
    with open(go_file, "w") as f:
        f.write("go")
    for p in procs:
        p.join(timeout=600)
    assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]
    oplog: dict = {}
    for res in results:
        with open(res) as f:
            oplog.update(_json.load(f))
    with open(os.path.join(out, corpus_io.MANIFEST)) as f:
        committed = _json.load(f)["committed_tokens"]
    assert set(committed[1:]) == set(oplog), (committed, list(oplog))
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE pmodel("
        "doc_id BIGINT, text VARCHAR, source VARCHAR, tag VARCHAR)"
    )
    duck.executemany(
        "INSERT INTO pmodel VALUES (?, ?, ?, NULL)",
        [(i, f"base {i}", f"s{i % 3}") for i in range(150)],
    )
    for tok in committed[1:]:
        kind, payload = oplog[tok]
        if kind == "upsert":
            duck.executemany(
                "DELETE FROM pmodel WHERE doc_id = ?",
                [(r[0],) for r in payload],
            )
            duck.executemany(
                "INSERT INTO pmodel VALUES (?, ?, ?, ?)", payload
            )
        else:
            mmod, rr = payload
            duck.execute(
                f"DELETE FROM pmodel WHERE doc_id % {mmod} = {rr}"
            )
    expect = {
        r[0]: (r[1], r[2], r[3])
        for r in duck.execute("SELECT * FROM pmodel").fetchall()
    }
    back = corpus_io.read_corpus(spark, out)
    has_tag = "tag" in back.columns
    got = {
        r["doc_id"]: (r["text"], r["source"], r["tag"] if has_tag else None)
        for r in back.collect()
    }
    assert got == expect
    assert corpus_io.verify_manifest(spark, out)
    assert not [
        d for d in os.listdir(out)
        if d.startswith(("_staging_", "_trash_"))
    ]
    assert not os.path.exists(os.path.join(out, corpus_io.LEASE))


def test_fingerprint_invariants(spark):
    """The CDC soundness rests on these fingerprint invariants — pin
    them directly: invariant to row order, file split, and projection
    order; invariant to null-widening (the to_json omission that makes
    evolution rescan-free); invariant to session timezone for
    timestamp columns (explicit UTC rendering); and SENSITIVE to an
    actual value change."""
    import pyspark.sql.functions as SF

    base = [(1, "a", "2024-01-02 03:04:05"), (2, "b", "2024-06-07 08:09:10")]
    schema = "doc_id long, text string, ts_s string"

    def fp(df):
        return df.withColumn(
            "_h", corpus_io._row_fingerprint_col(df.columns)
        ).agg(
            SF.expr("bit_xor(_h)").alias("x"),
            SF.expr("sum(pmod(_h, 2147483648))").alias("s"),
        ).collect()[0]

    df = spark.createDataFrame(base, schema).withColumn(
        "ts", SF.to_timestamp("ts_s")
    ).drop("ts_s")
    ref = tuple(fp(df))
    # row order / partitioning
    assert tuple(fp(df.orderBy(SF.desc("doc_id")).repartition(7))) == ref
    # projection order
    assert tuple(fp(df.select("ts", "text", "doc_id"))) == ref
    # null-widening (the evolution case)
    assert tuple(fp(df.withColumn("lang", SF.lit(None).cast("string")))) \
        == ref
    # session timezone drift must NOT move a timestamp fingerprint
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        assert tuple(fp(df)) == ref
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # sensitivity: any value change moves it
    assert tuple(fp(df.withColumn(
        "text", SF.when(SF.col("doc_id") == 1, "A").otherwise(SF.col("text"))
    ))) != ref


def test_recover_refuses_ambiguous_residue_when_log_saturated(spark):
    """r14 (ADVICE r13 #1): once the committed_tokens log is SATURATED,
    a residue token's absence no longer proves it never committed — it
    may be a committed takedown's residue whose token was pruned, and
    rolling it back would resurrect the taken-down data. Recovery must
    raise for manual inspection unless the token is provably YOUNGER
    than the oldest retained log entry (writers serialize on the
    lease, so creation order tracks commit order: a younger committed
    token would still be in the log)."""
    import json as _json

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        # saturate the log with synthetic but well-formed tokens whose
        # embedded time_ns values are ordered
        mpath = os.path.join(out, corpus_io.MANIFEST)
        with open(mpath) as f:
            m = _json.load(f)
        m["committed_tokens"] = [
            f"1-{1000 + i}"
            for i in range(corpus_io.COMMITTED_TOKENS_KEEP)
        ]
        m["writer_token"] = m["committed_tokens"][-1]
        with open(mpath, "w") as f:
            _json.dump(m, f)

        def residue(tok):
            os.makedirs(os.path.join(out, f"_staging_{tok}"), exist_ok=True)

        # OLDER than the oldest retained entry: ambiguous -> raise
        residue("1-5")
        with pytest.raises(RuntimeError, match="SATURATED"):
            corpus_io.recover_corpus(out)
        os.rmdir(os.path.join(out, "_staging_1-5"))
        # unparseable token: ambiguous -> raise
        residue("crashed")
        with pytest.raises(RuntimeError, match="SATURATED"):
            corpus_io.recover_corpus(out)
        os.rmdir(os.path.join(out, "_staging_crashed"))
        # YOUNGER than the oldest retained entry: absence is proof of
        # non-commit -> normal rollback path (trash absent: discard)
        residue("1-999999")
        rep = corpus_io.recover_corpus(out)
        assert rep["discarded_staging"] == ["1-999999"]
        # unsaturated log (the normal regime): unparseable tokens keep
        # rolling back — absence from a never-pruned log IS proof
        m["committed_tokens"] = m["committed_tokens"][:3]
        with open(mpath, "w") as f:
            _json.dump(m, f)
        residue("crashed")
        rep = corpus_io.recover_corpus(out)
        assert rep["discarded_staging"] == ["crashed"]


def test_absence_is_no_proof_past_an_unparseable_oldest_token():
    """A saturated commit log whose OLDEST entry is a token this module
    did not mint bounds nothing: a residue token's absence is ambiguous,
    so recovery must raise rather than roll back. The expiry clock reads
    an unparseable token as time 0; if recovery read it that way too,
    every parseable residue would count as younger and be rolled back."""
    log = ["external-residue"] + [
        f"1-{1000 + i}" for i in range(corpus_io.COMMITTED_TOKENS_KEEP - 1)
    ]
    assert not corpus_io._absence_is_proof("2-5", log)
    assert corpus_io._absence_is_proof("2-5", log[:3])  # never pruned


def test_vacuum_holds_one_lease_across_both_phases(spark, monkeypatch):
    """r14 (ADVICE r13 #4): vacuum's recovery phase and file sweep run
    under ONE 'vacuum' lease — no gap where a takedown could start and
    crash unreported between the phases."""
    import json as _json

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        seen = {}
        real = corpus_io._recover_corpus_locked

        def spy(out_dir, spark_arg=None):
            with open(os.path.join(out_dir, corpus_io.LEASE)) as f:
                seen["purpose"] = _json.load(f)["purpose"]
            return real(out_dir, spark_arg)

        monkeypatch.setattr(corpus_io, "_recover_corpus_locked", spy)
        corpus_io.vacuum_corpus(out)
        # recovery ran under the vacuum lease itself, not a separate
        # released-then-reacquired recover lease
        assert seen["purpose"] == "vacuum"


def test_history_write_failure_is_surfaced(spark):
    """r14 (ADVICE r13 #3): a failed _manifest_history mirror write is
    no longer swallowed — the commit stays durable, but the returned
    manifest carries a 'history_write_failed' marker and a
    RuntimeWarning names the consequence (CDC/forensics will not see
    this commit), so operators can tell a lost history entry from a
    pruned one."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        # make the history mirror unwritable: replace the dir with a file
        hist = os.path.join(out, corpus_io.MANIFEST_HISTORY)
        import shutil as _shutil

        _shutil.rmtree(hist)
        with open(hist, "w") as f:
            f.write("not a directory")
        delta = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "text", F.concat(F.lit("U "), F.col("text"))
        )
        with pytest.warns(RuntimeWarning, match="history write failed"):
            m = corpus_io.upsert_corpus(delta, out)
        assert "history_write_failed" in m
        # the commit itself is durable: the committed manifest matches
        # the returned one minus the marker
        import json as _json

        with open(os.path.join(out, corpus_io.MANIFEST)) as f:
            on_disk = _json.load(f)
        assert on_disk["writer_token"] == m["writer_token"]
        assert "history_write_failed" not in on_disk
        assert corpus_io.verify_manifest(spark, out)


def test_changes_vs_manifest_resyncs_pruned_consumer(spark):
    """r14 (VERDICT r13 #7): a CDC consumer whose token fell past the
    history retention window resyncs via its own retained manifest —
    corpus_changes_vs_manifest must return the identical
    changed/removed sets and frame content the token path returned
    before the pruning, at the same O(changed) cost."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        t0 = m0["writer_token"]
        delta = docs.filter(
            (F.col("source") == "s0") & (F.col("doc_id") % 2 == 0)
        ).withColumn("text", F.concat(F.lit("R "), F.col("text")))
        corpus_io.upsert_corpus(delta, out)
        corpus_io.delete_from_corpus(spark, out, F.col("source") == "s2")
        ch_tok = corpus_io.corpus_changes_since(spark, out, t0)
        rows_tok = sorted(
            (r["doc_id"], r["text"]) for r in ch_tok["df"].collect()
        )
        # simulate the retention cliff: prune t0's history manifest
        os.unlink(os.path.join(
            out, corpus_io.MANIFEST_HISTORY, f"manifest_{t0}.json"
        ))
        with pytest.raises(ValueError, match="corpus_changes_vs_manifest"):
            corpus_io.corpus_changes_since(spark, out, t0)
        ch = corpus_io.corpus_changes_vs_manifest(spark, out, m0)
        assert ch["changed"] == ch_tok["changed"]
        assert ch["removed"] == ch_tok["removed"]
        assert ch["from"] == t0 and ch["to"] == ch_tok["to"]
        rows = sorted((r["doc_id"], r["text"]) for r in ch["df"].collect())
        assert rows == rows_tok


# ---------------------------------------------------------------------------
# r14: snapshot-isolated reads (pin_corpus_snapshot)
# ---------------------------------------------------------------------------


def test_manifest_records_file_lists_and_maintenance_refreshes_them(spark):
    """r14: every committed manifest names its exact data files per
    partition; upsert merges lists incrementally, delete pops removed
    partitions, and compact/layout — which change file names without a
    content commit — refresh the lists in place without touching the
    committed_tokens log or writer_token."""
    import glob as _glob
    import json as _json

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m = corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=7
        )

        def disk_files(pkey):
            return sorted(
                os.path.basename(p)
                for p in _glob.glob(os.path.join(out, pkey, "*.parquet"))
            )

        for k in m["partitions"]:
            assert m["files"][k] == disk_files(k)
        tok_before = m["writer_token"]
        log_before = m["committed_tokens"]
        rep = corpus_io.compact_corpus(spark, out)
        assert rep["compacted"]  # 7-row files: fragmented by design
        m2 = rep["manifest"]
        for k in m2["partitions"]:
            assert m2["files"][k] == disk_files(k)  # refreshed
        # layout-only rewrite: no commit-log or token movement
        assert m2["writer_token"] == tok_before
        assert m2["committed_tokens"] == log_before
        # delete pops the removed partition's list
        rep = corpus_io.delete_from_corpus(
            spark, out, F.col("source") == "s2"
        )
        assert "source=s2" not in rep["manifest"]["files"]
        for k in rep["manifest"]["partitions"]:
            assert rep["manifest"]["files"][k] == disk_files(k)


def test_pin_survives_subsequent_takedown_and_compaction(spark):
    """r14 (VERDICT r13 #1): a snapshot pinned BEFORE a takedown +
    compaction still reads the pinned version — schema, rows, bytes —
    after both commit; the live read sees the new version. Hard links
    keep the pinned files alive through the writers' cleanup."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=7
        )
        before = sorted(
            (r["doc_id"], r["text"], r["source"])
            for r in corpus_io.read_corpus(spark, out).collect()
        )
        with corpus_io.pin_corpus_snapshot(out) as snap:
            corpus_io.delete_from_corpus(
                spark, out, F.col("source") == "s1"
            )
            corpus_io.compact_corpus(spark, out)
            pinned = sorted(
                (r["doc_id"], r["text"], r["source"])
                for r in snap.read(spark).collect()
            )
            assert pinned == before
            # the pin dir is itself a verifiable corpus of that version
            assert corpus_io.verify_manifest(spark, snap.pin_dir)
            live = corpus_io.read_corpus(spark, out)
            assert live.filter(F.col("source") == "s1").count() == 0
        # exit drops the pin
        assert not os.path.isdir(snap.pin_dir)
        assert corpus_io.verify_manifest(spark, out)


def test_pin_legacy_manifest_listdir_fallback(spark):
    """A pre-r14 manifest (no file lists) still pins: listdir-based
    snapshot revalidated by manifest-token equality."""
    import json as _json

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        mpath = os.path.join(out, corpus_io.MANIFEST)
        with open(mpath) as f:
            m = _json.load(f)
        del m["files"]
        with open(mpath, "w") as f:
            _json.dump(m, f)
        with corpus_io.pin_corpus_snapshot(out) as snap:
            assert snap.read(spark).count() == docs.count()
            assert corpus_io.verify_manifest(spark, snap.pin_dir)


def test_vacuum_sweeps_aged_pins_only(spark):
    """Aged _pin_* dirs (crashed/leaked readers) are swept by vacuum;
    fresh pins — a live reader — survive."""
    import time

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        old_pin = os.path.join(out, "_pin_1-42")
        os.makedirs(os.path.join(old_pin, "source=s0"))
        past = time.time() - 7200.0
        os.utime(old_pin, (past, past))
        with corpus_io.pin_corpus_snapshot(out) as snap:
            rep = corpus_io.vacuum_corpus(out)
            assert "_pin_1-42" in rep["swept_files"]
            assert not os.path.isdir(old_pin)
            assert os.path.isdir(snap.pin_dir)  # fresh pin untouched
            assert corpus_io.verify_manifest(spark, snap.pin_dir)


def test_pinned_reads_are_snapshot_isolated_under_live_maintenance(spark):
    """r14 racing-reader property test (VERDICT r13 #1's done
    criterion): a reader loop pins snapshots WHILE a writer thread
    runs a live mix of upsert / delete / compact / layout against the
    same corpus. Every pin must verify against its own pinned manifest
    (content fingerprints — i.e. every read equals exactly the
    committed version its manifest names, never a partial or mixed
    state), including pins taken inside the swap->dump window (the
    trash-fallback path)."""
    import threading

    docs = spark.range(0, 120).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("base "), F.col("id").cast("string")).alias("text"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(
            docs, out, max_records_per_file=11
        )
        errors: list[Exception] = []
        done = threading.Event()

        def retry(op):
            return corpus_io.retry_on_lease_held(
                op, max_wait_sec=300, backoff_sec=0.05
            )

        def writer():
            try:
                for i in range(6):
                    delta = spark.createDataFrame(
                        [
                            (j, f"W{i}-{j}", f"s{j % 3}")
                            for j in range(i * 7, i * 7 + 9)
                        ],
                        "doc_id long, text string, source string",
                    )
                    retry(lambda d=delta: corpus_io.upsert_corpus(d, out))
                    if i % 3 == 0:
                        retry(lambda: corpus_io.compact_corpus(
                            spark, out, target_rows_per_file=50
                        ))
                    elif i % 3 == 1:
                        retry(lambda m=i: corpus_io.delete_from_corpus(
                            spark, out, F.col("doc_id") % 29 == m
                        ))
                    else:
                        retry(lambda: corpus_io.cluster_corpus_layout(
                            spark, out, target_rows_per_file=60
                        ))
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)
            finally:
                done.set()

        th = threading.Thread(target=writer)
        th.start()
        pins = 0
        try:
            while not done.is_set() or pins == 0:
                with corpus_io.pin_corpus_snapshot(out) as snap:
                    # the pin must be EXACTLY the committed version its
                    # manifest names — content-fingerprint verified
                    assert corpus_io.verify_manifest(spark, snap.pin_dir)
                    got = snap.read(spark).count()
                    assert got == snap.manifest["total_rows"]
                pins += 1
        finally:
            th.join(timeout=600)
        assert not errors, errors
        assert pins >= 1
        assert corpus_io.verify_manifest(spark, out)


def test_lease_no_starvation_under_sustained_long_holder(tmp_path):
    """r14 (VERDICT r13 #8): liveness under writer pressure. The lease
    has NO queue — acquisition is racy retry (create-if-absent), so
    fairness is not guaranteed by construction; what the protocol must
    deliver is bounded wait whenever the holder's duty cycle leaves
    gaps. One LONG writer holds the lease ~70% of the time (300 ms
    hold / 100 ms gap, 8 cycles); 3 SHORT writers each need 5
    acquisitions (10 ms hold) through retry_on_lease_held. Every short
    acquisition must land, the longest observed wait must stay well
    under the long holder's full run (no starvation-to-the-end), and
    no TTL break may fire (contention is waiting, never stealing)."""
    import threading
    import time

    out = str(tmp_path / "corpus")
    os.makedirs(out, exist_ok=True)
    break_before = corpus_io.BREAK_COUNT
    errors: list[Exception] = []
    waits: list[float] = []
    lock = threading.Lock()

    def long_driver():
        # keep re-entering until 8 total holds complete or 30s pass
        deadline = time.monotonic() + 30
        holds = 0
        try:
            while holds < 8 and time.monotonic() < deadline:
                try:
                    with corpus_io.corpus_lease(out, "long"):
                        time.sleep(0.3)
                    holds += 1
                    time.sleep(0.1)
                except corpus_io.MaintenanceLeaseHeld:
                    time.sleep(0.02)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def short_writer():
        try:
            for _ in range(5):
                t0 = time.monotonic()

                def hold():
                    with corpus_io.corpus_lease(out, "short"):
                        time.sleep(0.01)

                corpus_io.retry_on_lease_held(
                    hold, max_wait_sec=30.0, backoff_sec=0.02
                )
                with lock:
                    waits.append(time.monotonic() - t0)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=long_driver)] + [
        threading.Thread(target=short_writer) for _ in range(3)
    ]
    t_start = time.monotonic()
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    total = time.monotonic() - t_start
    assert not errors, errors
    assert len(waits) == 15  # every short acquisition landed
    # bounded wait: no short writer starved anywhere near the full run
    assert max(waits) < total, (max(waits), total)
    assert max(waits) < 10.0, f"starved acquisition: {sorted(waits)[-3:]}"
    # contention was WAITING, never stealing
    assert corpus_io.BREAK_COUNT == break_before
    assert not os.path.exists(os.path.join(out, corpus_io.LEASE))


# ---------------------------------------------------------------------------
# version retention + time travel (r14)
# ---------------------------------------------------------------------------


def test_retention_off_keeps_pre_r14_behavior(spark):
    """Default (no retention file): displaced originals are destroyed
    at end-of-op — no _retired_* dirs, old bytes gone."""
    docs = _evo_docs(spark).withColumn(
        "text", F.concat(F.lit("V1-"), F.col("doc_id"))
    )
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        delta = docs.withColumn(
            "text", F.concat(F.lit("V2-"), F.col("doc_id"))
        )
        corpus_io.upsert_corpus(delta, out)
        assert [
            n for n in os.listdir(out)
            if n.startswith(corpus_io.RETIRED_PREFIX)
        ] == []
        assert _sweep_bytes(out, b"V1-") == []


def test_time_travel_pins_each_retained_version(spark):
    """With retention on, every commit in the history window is
    readable as of its own manifest — through upsert, delete, AND a
    content-preserving layout rewrite that renames every file."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m1 = corpus_io.write_partitioned_corpus(docs, out)
        corpus_io.set_corpus_retention(out, keep_versions=8)
        assert corpus_io.get_corpus_retention(out) == 8
        delta = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
            "text", F.concat(F.lit("NEW-"), F.col("doc_id"))
        )
        m2 = corpus_io.upsert_corpus(delta, out)
        corpus_io.delete_from_corpus(spark, out, F.col("source") == "s1")
        corpus_io.compact_corpus(spark, out)
        m3 = corpus_io._current_manifest(out)

        with corpus_io.pin_corpus_version(out, m1["writer_token"]) as v:
            got = {
                (r["doc_id"], r["text"])
                for r in v.read(spark).collect()
            }
        assert got == {(i, f"base {i}") for i in range(60)}

        with corpus_io.pin_corpus_version(out, m2["writer_token"]) as v:
            got = {
                (r["doc_id"], r["text"])
                for r in v.read(spark).collect()
            }
        assert got == {
            (i, f"NEW-{i}" if i % 2 == 0 else f"base {i}")
            for i in range(60)
        }

        # the current version pins too (post-compact: its history
        # manifest still names the pre-compact files, found retired)
        with corpus_io.pin_corpus_version(out, m3["writer_token"]) as v:
            assert v.read(spark).count() == m3["total_rows"]


def test_time_travel_unavailable_when_destroyed(spark):
    """Three terminal failure modes, each named: unknown token, bytes
    displaced before retention was enabled, purge_versions."""
    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m1 = corpus_io.write_partitioned_corpus(docs, out)
        with pytest.raises(
            corpus_io.VersionUnavailableError, match="never committed"
        ):
            with corpus_io.pin_corpus_version(out, "999-123"):
                pass
        # retention OFF during the displacing upsert: v1 bytes die
        delta = docs.withColumn("text", F.lit("gone"))
        corpus_io.upsert_corpus(delta, out)
        with pytest.raises(
            corpus_io.VersionUnavailableError, match="not fully findable"
        ):
            with corpus_io.pin_corpus_version(
                out, m1["writer_token"], max_wait_sec=0.3
            ):
                pass
        # retention ON, then purge: pinnable until purged
        corpus_io.set_corpus_retention(out, keep_versions=4)
        m2 = corpus_io._current_manifest(out)
        corpus_io.delete_from_corpus(spark, out, F.col("doc_id") < 30)
        with corpus_io.pin_corpus_version(out, m2["writer_token"]) as v:
            assert v.read(spark).count() == 60
        corpus_io.vacuum_corpus(out, purge_versions=True)
        with pytest.raises(
            corpus_io.VersionUnavailableError, match="not fully findable"
        ):
            with corpus_io.pin_corpus_version(
                out, m2["writer_token"], max_wait_sec=0.3
            ):
                pass


def test_destroyed_version_pin_fails_fast_when_quiescent(spark):
    """r14 optimization: a pin of a DESTROYED version on a quiescent
    corpus (no live maintenance lease, no state movement across the
    failed link attempt) must terminalize immediately — not burn the
    full max_wait_sec retry deadline, which exists only to absorb a
    concurrent live->trash->retired rename. While a live lease IS
    held, the same miss keeps retrying (the mover may still surface
    the bytes)."""
    import json
    import time as _time

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m1 = corpus_io.write_partitioned_corpus(docs, out)
        # retention OFF during the displacing upsert: v1 bytes die
        corpus_io.upsert_corpus(docs.withColumn("text", F.lit("x")), out)
        t0 = _time.monotonic()
        with pytest.raises(
            corpus_io.VersionUnavailableError, match="not fully findable"
        ):
            # the DEFAULT 10 s deadline: promptness must come from the
            # stable-miss detection, not from a test-shortened deadline
            with corpus_io.pin_corpus_version(out, m1["writer_token"]):
                pass
        assert _time.monotonic() - t0 < 2.0
        # with a live lease held, the pin keeps retrying to its
        # (short) deadline instead of terminalizing on first miss
        with corpus_io.corpus_lease(out, "test-hold"):
            t0 = _time.monotonic()
            with pytest.raises(corpus_io.VersionUnavailableError):
                with corpus_io.pin_corpus_version(
                    out, m1["writer_token"], max_wait_sec=0.5
                ):
                    pass
            assert _time.monotonic() - t0 >= 0.5
        # an EXPIRED leftover lease (crashed writer) does not count as
        # live: quiescent fast path applies
        lease_path = os.path.join(out, corpus_io.LEASE)
        with open(lease_path, "w") as f:
            json.dump(
                {"token": "1-1", "acquired_at": 0.0, "ttl_sec": 1.0}, f
            )
        t0 = _time.monotonic()
        with pytest.raises(corpus_io.VersionUnavailableError):
            with corpus_io.pin_corpus_version(out, m1["writer_token"]):
                pass
        assert _time.monotonic() - t0 < 2.0
        os.unlink(lease_path)


def test_expiry_horizon_keeps_last_k_versions(spark):
    """keep_versions=2 with a chain of commits: expiry destroys retired
    dirs older than the K-th-newest commit and keeps the rest; the
    last K versions stay pinnable afterwards."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        corpus_io.write_partitioned_corpus(docs, out)
        corpus_io.set_corpus_retention(out, keep_versions=2)
        tokens = []
        for gen in range(4):
            delta = docs.withColumn(
                "text", F.concat(F.lit(f"G{gen}-"), F.col("doc_id"))
            )
            tokens.append(
                corpus_io.upsert_corpus(delta, out)["writer_token"]
            )
        rep = corpus_io.expire_corpus_versions(out)
        assert rep["keep_versions"] == 2
        assert rep["expired"], rep  # something aged out
        # the last 2 committed versions remain pinnable...
        for tok in tokens[-2:]:
            with corpus_io.pin_corpus_version(out, tok) as v:
                assert v.read(spark).count() == 60
        # ...the G0 generation's bytes are gone (displaced by G1,
        # which is older than the horizon commit G2)
        assert _sweep_bytes(out, b"G0-") == []
        import pytest

        with pytest.raises(corpus_io.VersionUnavailableError):
            with corpus_io.pin_corpus_version(
                out, tokens[0], max_wait_sec=0.3
            ):
                pass


def test_recover_roll_forward_retires_under_retention(spark, monkeypatch):
    """A committed takedown whose cleanup crashed: recovery completes
    the deferred cleanup the way the writer would have — under
    retention the displaced originals are RETIRED (prior versions stay
    pinnable), not destroyed."""
    import shutil as _shutil

    import pytest

    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m1 = corpus_io.write_partitioned_corpus(docs, out)
        corpus_io.set_corpus_retention(out, keep_versions=4)
        real_rmtree = _shutil.rmtree
        real_rename = os.rename

        def crashing(path, *a, **k):
            s = str(path)
            if f"{os.sep}_staging_" in s or f"{os.sep}_trash_" in s:
                raise RuntimeError("simulated post-commit crash")
            return real_rmtree(path, *a, **k)

        def crashing_rename(src, dst, *a, **k):
            if f"{os.sep}_retired_" in str(dst):
                raise OSError("simulated crash before retire rename")
            return real_rename(src, dst, *a, **k)

        monkeypatch.setattr("shutil.rmtree", crashing)
        monkeypatch.setattr("os.rename", crashing_rename)
        with pytest.raises(RuntimeError, match="simulated post-commit"):
            corpus_io.delete_from_corpus(
                spark, out, F.col("source") == "s1"
            )
        monkeypatch.setattr("shutil.rmtree", real_rmtree)
        monkeypatch.setattr("os.rename", real_rename)
        report = corpus_io.recover_corpus(out, spark)
        assert report["rolled_forward"], report
        retired = [
            n for n in os.listdir(out)
            if n.startswith(corpus_io.RETIRED_PREFIX)
        ]
        assert retired, "roll-forward destroyed bytes under retention"
        with corpus_io.pin_corpus_version(out, m1["writer_token"]) as v:
            assert v.read(spark).count() == 60


def test_manifest_total_rows_is_the_physical_truth_after_takedown(spark):
    """r15 (VERDICT r14 #1): corpus_pinned_snapshot's in-entry proof
    that the takedown moved the live corpus reads the writer-recorded
    manifest ``total_rows`` instead of recounting (r14 pass removal).
    This test keeps the INDEPENDENT count() fence out-of-band: after
    the entry's exact maintenance sequence (every-3rd-doc delete +
    layout rewrite) the manifest count the entry trusts must equal a
    physical re-scan of the live corpus — and must have shrunk."""
    docs = _evo_docs(spark)
    with tempfile.TemporaryDirectory() as base:
        out = os.path.join(base, "corpus")
        m0 = corpus_io.write_partitioned_corpus(docs, out)
        assert m0["total_rows"] == corpus_io.read_corpus(spark, out).count()
        with corpus_io.pin_corpus_snapshot(out):
            corpus_io.delete_from_corpus(
                spark, out, F.col("doc_id") % 3 == 0
            )
            corpus_io.cluster_corpus_layout(spark, out)
            m1 = corpus_io._current_manifest(out)
            live = corpus_io.read_corpus(spark, out).count()
            assert m1["total_rows"] == live, (m1["total_rows"], live)
            assert m1["total_rows"] < m0["total_rows"]
