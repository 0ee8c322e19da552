"""Incremental (delta-vs-corpus) deduplication.

The production shape of dedup at 100 TB is not "re-dedupe the world":
new data arrives as a DELTA (a crawl snapshot, a day of ingest) and is
gated against the already-curated CORPUS. This operator implements that
gate end-to-end on the engine's standing dedup machinery
(reference parity note: the reference repo has no dedup surface at all —
this extends the engine's §2.8 training-data family, same corpus
conventions as operators/dedup.py):

1. **exact vs corpus** — delta content-hash anti/flag-join against the
   corpus hash set (`md5`, never the text).
2. **exact within delta** — first occurrence per hash inside the delta
   survives; later copies are marked (one hash-partitioned window).
3. **near-dup vs corpus** — MinHash band signatures of the remaining
   delta docs probe the corpus band-bucket index (same N_HASHES/N_BANDS/
   LSH_BUCKET_CAP as the standing LSH pass), and candidates are verified
   with the exact word-set Jaccard test; verification reads ONLY the
   candidate base docs (broadcast-semi-join prune of the corpus text
   scan — the at-scale shape: the corpus index relations are consulted,
   the corpus text is touched only where a candidate demands it).

Verdict per delta doc (precedence top-down):
``exact_dup_corpus`` > ``exact_dup_delta`` > ``near_dup_corpus`` >
``admitted``. Delta-internal NEAR-dups are deliberately left to the
next full LSH pass (the gate's job is admission against the corpus;
marking them here would duplicate dedup_minhash_lsh's role).

100 TB posture: in production the two corpus-side relations derived
here inline — the hash set and the band-signature index — are
materialized once at ingest and maintained incrementally, so a delta
run shuffles only O(|delta|) signature/hash rows plus the band-bucket
probe; corpus text I/O is bounded by verified-candidate fan-in. The
Jaccard acceptance test is integer-exact (2*|A∩B| >= |A∪B|), so the
verdict column is bit-stable across engines.

Test split (deterministic, oracle-shared): corpus = documents with
``doc_id % 7 <> 3``; delta = the held-out documents (genuinely new)
plus the same injected duplicates the standing dedup corpus uses
(exact copies of every 10th doc, first-word-dropped near copies of
every 20th — operators/dedup.py::corpus_sql).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import words_expr
from ..schemas import load_table, spread
from .dedup import (
    LSH_BUCKET_CAP,
    N_BANDS,
    N_HASHES,
    _band_expr,
    _minhash_cols,
    _sh_md5,
    _shingles,
)


def _drop_first_word(dialect: str) -> str:
    w = words_expr("text", dialect)
    if dialect == "spark":
        return f"concat_ws(' ', slice({w}, 2, size({w}) - 1))"
    return f"array_to_string(list_slice({w}, 2, len({w})), ' ')"


def _parts_sql(dialect: str) -> tuple[str, str]:
    """(base, delta) relation SQL over the ``documents`` view."""
    base = "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3"
    delta = (
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3"
        " UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents"
        " WHERE doc_id % 10 = 0"
        " UNION ALL "
        f"SELECT doc_id + 2000000 AS doc_id, {_drop_first_word(dialect)} AS text"
        " FROM documents WHERE doc_id % 20 = 0"
    )
    return base, delta


def _with_sigs(df: DataFrame) -> DataFrame:
    """Append mh0..mh{k-1} minhash columns (shared helpers from dedup.py)."""
    from ..functions.portable import words_expr

    # words projected once as a column (see dedup._shingles, r14)
    df = df.withColumn("__ws", F.expr(words_expr("text", "spark")))
    df = df.withColumn("__shingles", F.expr(_shingles("spark", ws="__ws")))
    df = df.withColumn("__sh_md5", F.expr(_sh_md5("spark")))
    for j, e in enumerate(_minhash_cols("spark")):
        df = df.withColumn(f"mh{j}", F.expr(e))
    return df.drop("__ws", "__shingles", "__sh_md5")


def _band_rows(df: DataFrame, id_alias: str) -> DataFrame:
    """Explode a signature frame into (id, band, bh) rows."""
    return df.select(
        F.col("doc_id").alias(id_alias),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(_band_expr("spark", b)).alias("bh"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select(id_alias, "e.band", "e.bh")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    base_sql, delta_sql = _parts_sql("spark")
    src = f"{sf_dir}/documents.parquet"
    base = spread(spark.sql(base_sql), src_path=src)
    delta = spread(spark.sql(delta_sql), src_path=src)

    # exact vs corpus + first-occurrence within delta: one hash join on h
    # (corpus side is hashes only) and one h-partitioned window — text
    # never crosses either exchange at scale (spread() adds its local-
    # starvation exchange only on single-split toy scans; see schemas.py).
    dh = delta.select("doc_id", F.md5("text").alias("h"), "text")
    base_hashes = base.select(F.md5("text").alias("h")).distinct()
    flagged = (
        dh.join(base_hashes.withColumn("__in_base", F.lit(1)), "h", "left")
        .withColumn("__first_id", F.min("doc_id").over(Window.partitionBy("h")))
    )
    surv = flagged.filter(
        F.col("__in_base").isNull() & (F.col("doc_id") == F.col("__first_id"))
    ).select("doc_id", "text")

    # corpus band-bucket index (production: a maintained table) with the
    # standing degenerate-bucket cap; delta survivors probe it
    base_bkt = (
        _band_rows(_with_sigs(base), "base_id")
        .groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("base_id")).alias("ids"))
        .filter(F.size("ids") <= LSH_BUCKET_CAP)
    )
    cand = (
        _band_rows(_with_sigs(surv), "delta_id")
        .join(base_bkt, ["band", "bh"])
        .select("delta_id", F.explode("ids").alias("base_id"))
        .distinct()
    )

    # verify candidates only; the corpus text scan is pruned to candidate
    # ids via a broadcast semi-join (ids-only broadcast)
    cand_base_ids = cand.select(F.col("base_id").alias("doc_id")).distinct()
    wset = f"array_distinct({words_expr('text', 'spark')})"
    base_ws = (
        base.join(F.broadcast(cand_base_ids), "doc_id", "semi")
        .select(F.col("doc_id").alias("base_id"), F.expr(wset).alias("wb"))
    )
    delta_ws = surv.select(
        F.col("doc_id").alias("delta_id"), F.expr(wset).alias("wa")
    )
    near = (
        cand.join(delta_ws, "delta_id")
        .join(base_ws, "base_id")
        .filter(F.expr("2 * size(array_intersect(wa, wb)) >= size(array_union(wa, wb))"))
        .select(F.col("delta_id").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )

    return flagged.join(near, "doc_id", "left").select(
        "doc_id",
        F.expr(
            "CASE WHEN __in_base = 1 THEN 'exact_dup_corpus'"
            " WHEN doc_id <> __first_id THEN 'exact_dup_delta'"
            " WHEN __near = 1 THEN 'near_dup_corpus'"
            " ELSE 'admitted' END"
        ).alias("verdict"),
    )


def _incremental_sql() -> str:
    d = "duckdb"
    base, delta = _parts_sql(d)
    mh = ", ".join(f"{e} AS mh{j}" for j, e in enumerate(_minhash_cols(d)))
    base_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_expr(d, b)} AS bh FROM base_sigs"
        for b in range(N_BANDS)
    )
    delta_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_expr(d, b)} AS bh FROM delta_sigs"
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS ({base}),
delta AS ({delta}),
base_hashes AS (SELECT DISTINCT md5(text) AS h FROM base),
flagged AS (
  SELECT d.doc_id, d.h,
         CASE WHEN b.h IS NOT NULL THEN 1 END AS in_base,
         min(d.doc_id) OVER (PARTITION BY d.h) AS first_id
  FROM (SELECT doc_id, md5(text) AS h FROM delta) d
  LEFT JOIN base_hashes b ON d.h = b.h
),
surv AS (
  SELECT f.doc_id, dl.text FROM flagged f JOIN delta dl ON dl.doc_id = f.doc_id
  WHERE f.in_base IS NULL AND f.doc_id = f.first_id
),
base_sigs AS (
  SELECT doc_id, {mh}
  FROM (SELECT doc_id, {_sh_md5(d)} AS __sh_md5
        FROM (SELECT doc_id, {_shingles(d)} AS __shingles FROM base))
),
delta_sigs AS (
  SELECT doc_id, {mh}
  FROM (SELECT doc_id, {_sh_md5(d)} AS __sh_md5
        FROM (SELECT doc_id, {_shingles(d)} AS __shingles FROM surv))
),
base_bands AS ({base_bands}),
base_bkt AS (
  SELECT band, bh, doc_id FROM (
    SELECT band, bh, doc_id, count(*) OVER (PARTITION BY band, bh) AS bsz
    FROM base_bands)
  WHERE bsz <= {LSH_BUCKET_CAP}
),
delta_bands AS ({delta_bands}),
cand AS (
  SELECT DISTINCT s.doc_id AS delta_id, k.doc_id AS base_id
  FROM delta_bands s JOIN base_bkt k ON s.band = k.band AND s.bh = k.bh
),
wsa AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM surv),
wsb AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM base
  WHERE doc_id IN (SELECT base_id FROM cand)
),
near AS (
  SELECT DISTINCT c.delta_id AS doc_id
  FROM cand c
  JOIN wsa a ON a.doc_id = c.delta_id
  JOIN wsb b ON b.doc_id = c.base_id
  WHERE 2 * len(list_intersect(a.ws, b.ws))
        >= len(list_distinct(list_concat(a.ws, b.ws)))
)
SELECT f.doc_id,
       CASE WHEN f.in_base = 1 THEN 'exact_dup_corpus'
            WHEN f.doc_id <> f.first_id THEN 'exact_dup_delta'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup_corpus'
            ELSE 'admitted' END AS verdict
FROM flagged f LEFT JOIN near n ON n.doc_id = f.doc_id
"""


def refresh_corpus_index(
    spark: SparkSession,
    out_dir: str,
    prior_index: DataFrame,
    since_token: str,
    recompute,
    partition_cols: tuple[str, ...] = ("source",),
) -> tuple[DataFrame, dict]:
    """CDC-driven incremental refresh of a corpus-derived index
    relation (r14, VERDICT r13 #3 — the first real consumer of
    ``corpus_changes_since``): given the index as of commit
    ``since_token`` and a ``recompute(changed_df) -> index rows``
    function, return the index as of the CURRENT commit by touching
    only what changed — drop the (changed ∪ removed) partitions' rows
    from the prior index and union in ``recompute`` over the changed
    partitions' current content.

    This cashes the 100 TB promise the incremental dedup gate's
    docstring makes ('the corpus-side relations are materialized once
    at ingest and maintained incrementally'): the corpus hash set, the
    band-signature index, per-source BM25 stats — anything derived
    per-partition — refreshes at O(changed partitions): the diff is
    metadata-only (two manifests), the recompute scan is
    partition-pruned (``ch['df']``), and the prior-index prune is one
    partition-column filter (pushable; in production the index table
    is itself partitioned the same way, so the drop is partition-level
    too). The fingerprint-sensitive diff makes this SOUND for
    count-equal replacement upserts — exactly the delta-wins merges a
    count-only diff under-reports (pinned in the driver entry).

    Correctness contract (the driver oracle): refreshed-incrementally
    == rebuilt-from-scratch over the current corpus, bit-exact, for
    any per-partition-decomposable ``recompute`` (index(corpus) =
    ⊎ index(partition) — true for hash sets, signature indexes,
    per-partition stats; NOT for global aggregates like corpus-wide
    IDF, which need their own merge step).

    Production/write shape: store the index as a TABLE partitioned on
    the same columns — then the refresh's WRITE is also O(changed):
    dynamic-overwrite the changed partitions' index files, drop the
    removed partitions' dirs, leave everything else untouched
    (SCALING_DECADE2.md prices exactly that at the x1000
    decade: refresh 0.53x of the rebuild with 1/20 partitions
    changed, both scan and write pruned). The lazy frame this
    function returns is the read-side form; its `ch["df"]` slice is
    what the table write lands.

    Returns ``(refreshed_index, changes_report)``."""
    from .corpus_io import _parse_pkey, corpus_changes_since

    ch = corpus_changes_since(spark, out_dir, since_token)
    stale = sorted(set(ch["changed"]) | set(ch["removed"]))
    keep = prior_index
    if stale:
        vals = [_parse_pkey(partition_cols, k) for k in stale]
        pred = None
        for tup in vals:
            clause = None
            for c, v in zip(partition_cols, tup):
                # the index carries TYPED partition columns; compare on
                # the directory rendering (cast to string) — null-safe,
                # matching _pkey's rendering of the changed keys
                eq = F.col(c).cast("string").eqNullSafe(
                    F.lit(None) if v is None else F.lit(v)
                )
                clause = eq if clause is None else (clause & eq)
            pred = clause if pred is None else (pred | clause)
        keep = prior_index.filter(~F.coalesce(pred, F.lit(False)))
    fresh = recompute(ch["df"])
    return keep.unionByName(fresh), ch


def q_cdc_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the CDC->index composition (r14,
    VERDICT r13 #3): build a corpus (commit T0) and materialize its
    hash-set index — the corpus-side relation the incremental dedup
    gate probes. Then commit the three change shapes CDC must carry:
    a REPLACEMENT-ONLY upsert into one partition (count-equal —
    asserted in-entry, so a count-only diff would silently produce a
    STALE index and fail the driver hash), a brand-new partition, and
    a whole-partition delete. Refresh the index through
    ``refresh_corpus_index`` — O(changed): the recompute scan is the
    changes frame's partition-pruned read, never the corpus — and
    return it. The oracle is the index REBUILT FROM SCRATCH over the
    final corpus state, computed relationally: refreshed == rebuilt,
    bit-exact."""
    from ..schemas import scratch_dir
    from .corpus_io import (
        _hive_escape,
        _val_str,
        read_corpus,
        upsert_corpus,
        write_partitioned_corpus,
    )
    from .corpus_io import delete_from_corpus

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("cdc_idx_")
    m0 = write_partitioned_corpus(docs, out)
    t0 = m0["writer_token"]

    def hash_index(df: DataFrame) -> DataFrame:
        return df.select("doc_id", "source", F.md5("text").alias("h"))

    # the standing index as of T0 — in production a maintained table;
    # materialized here so the refresh provably never rescans it
    index0 = hash_index(read_corpus(spark, out)).localCheckpoint(
        eager=True
    )
    # ONE job for both extrema (r14 optimization round: these were
    # two separate full scans of the documents table)
    _mx = docs.agg(F.min("source"), F.max("source")).collect()[0]
    msrc, xsrc = _mx[0], _mx[1]
    chg_key = f"source={_hive_escape(_val_str(msrc))}"
    del_key = f"source={_hive_escape(_val_str(xsrc))}"
    new_key = "source=zz_cdc"
    delta = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("source") == msrc)
    ).withColumn(
        "text", F.concat(F.lit("CHG: "), F.col("text"))
    ).unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            "text",
            F.lit("zz_cdc").alias("source"),
        )
    )
    m1 = upsert_corpus(delta, out)
    if m1["partitions"][chg_key] != m0["partitions"][chg_key]:
        raise RuntimeError(
            "cdc refresh: the replacement delta changed the row count "
            "— the count-blindness claim would be vacuous"
        )
    delete_from_corpus(spark, out, F.col("source") == xsrc)
    refreshed, ch = refresh_corpus_index(
        spark, out, index0, t0, hash_index
    )
    if ch["changed"] != [chg_key, new_key] or ch["removed"] != [del_key]:
        raise RuntimeError(
            f"cdc refresh: unexpected change report {ch['changed']} / "
            f"{ch['removed']} — expected [{chg_key}, {new_key}] / "
            f"[{del_key}]"
        )
    return refreshed


q_cdc_index_refresh.stateful_build = True


_CDC_INDEX_SQL = """
WITH msrc AS (SELECT min(source) AS s FROM documents),
xsrc AS (SELECT max(source) AS s FROM documents),
final AS (
  SELECT doc_id,
         CASE WHEN source = (SELECT s FROM msrc) AND doc_id % 5 = 0
              THEN 'CHG: ' || text ELSE text END AS text,
         source
  FROM documents
  WHERE source <> (SELECT s FROM xsrc)
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text, 'zz_cdc' AS source
  FROM documents WHERE doc_id % 50 = 0
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS h
FROM final
"""


def q_cdc_index_refresh_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING form of :func:`q_cdc_index_refresh` (r14): the same
    three change shapes (count-equal replacement upsert, brand-new
    partition, whole-partition delete), but the index is maintained as
    a partitioned TABLE by a continuously-running consumer of the
    ``corpus_cdc`` STREAMING source: each micro-batch
    dynamic-overwrites exactly the partitions whose full current
    content the feed delivered and drops the partitions the feed
    tombstoned — scan and write both O(changed), end to end, with no
    batch-side diff call anywhere (the source already paid the
    metadata diff when it planned the batch). The oracle is the index
    rebuilt from scratch over the final corpus state: maintained ==
    rebuilt, bit-exact, however the commits grouped into
    micro-batches."""
    import shutil

    from ..schemas import scratch_dir
    from ..sources import corpus_cdc
    from .corpus_io import (
        _hive_escape,
        _val_str,
        delete_from_corpus,
        read_corpus,
        upsert_corpus,
        write_partitioned_corpus,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("cdc_idxs_")
    idx = scratch_dir("cdc_idxs_table_")
    m0 = write_partitioned_corpus(docs, out)
    t0 = m0["writer_token"]

    def hash_index(df: DataFrame) -> DataFrame:
        return df.select("doc_id", "source", F.md5("text").alias("h"))

    # the standing index TABLE as of T0 (ingest-time materialization,
    # same partitioning as the corpus — the production shape priced
    # in SCALING_DECADE2.md)
    hash_index(read_corpus(spark, out)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("source").parquet(idx)

    # ONE job for both extrema (r14 optimization round: these were
    # two separate full scans of the documents table)
    _mx = docs.agg(F.min("source"), F.max("source")).collect()[0]
    msrc, xsrc = _mx[0], _mx[1]
    delta = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("source") == msrc)
    ).withColumn(
        "text", F.concat(F.lit("CHG: "), F.col("text"))
    ).unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            "text",
            F.lit("zz_cdc").alias("source"),
        )
    )
    upsert_corpus(delta, out)
    delete_from_corpus(spark, out, F.col("source") == xsrc)

    corpus_cdc.register(spark)
    feed = (
        spark.readStream.format("corpus_cdc")
        .option("path", out)
        .option("since_token", t0)
        .load()
    )

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        upd = hash_index(
            bdf.filter(F.col(corpus_cdc.CHANGE_COL) == "update")
        )
        if upd.take(1):
            upd.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("source").parquet(idx)
        removed = (
            bdf.filter(F.col(corpus_cdc.CHANGE_COL) == "remove")
            .select("source").distinct().collect()
        )  # bounded: one row per removed partition
        for r in removed:
            shutil.rmtree(
                os.path.join(
                    idx, f"source={_hive_escape(_val_str(r['source']))}"
                ),
                ignore_errors=True,
            )

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", scratch_dir("cdc_idxs_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(idx).select("doc_id", "source", "h")


q_cdc_index_refresh_streaming.stateful_build = True


QUERIES = {
    "dedup_incremental": q_dedup_incremental,
    "cdc_index_refresh": q_cdc_index_refresh,
    "cdc_index_refresh_streaming": q_cdc_index_refresh_streaming,
}
ORACLES = {
    "dedup_incremental": _incremental_sql(),
    # CDC-driven incremental index refresh == the index rebuilt from
    # scratch over the final corpus state (replacement + new partition
    # + whole-partition delete; O(changed) assertions are in-entry)
    "cdc_index_refresh": _CDC_INDEX_SQL,
    # the streaming twin maintains the same index TABLE through the
    # corpus_cdc source + per-batch dynamic overwrite — same oracle:
    # maintained == rebuilt over the final corpus state
    "cdc_index_refresh_streaming": _CDC_INDEX_SQL,
}
