"""Generate an sf1-scale measurement corpus (10x the driver's sf0.1) for
the SCALING.md decade extension — MEASUREMENT DATA ONLY, never used for
correctness checks (those run exclusively on the driver's testdata).

Construction: 10 similarity-disjoint replicas of the driver's own
sf0.1 tables, so duplicate DENSITY per unit of corpus is constant and a
10x corpus carries exactly 10x the near-dup structure — the property a
scaling measurement needs (naive tiling would make every doc a 10-way
exact dup and measure output blowup, not algorithmic growth):

- documents: replica k > 0 suffixes every CONTENT word with ``_rk``,
  leaving the EN_STOP stopwords untouched — shingle / vocab / signature
  spaces are (near-)disjoint across replicas (any shingle containing a
  content word differs; pure-stopword shingles are a negligible shared
  sliver), while the within-replica near-dup structure the driver
  injected is preserved verbatim AND per-doc stopword counts — hence
  the quality-gate admission decision — are identical to replica 0.
  (The r05 scheme suffixed stopwords too, so replicas k > 0 had zero
  stopwords, failed the corpus-ingest quality gate, and the streaming
  dedup-state measurement saw only replica 0's docs — VERDICT r05
  item 2.) doc_id offset by k * 10_000_000; n_chars recomputed.
- embeddings: replica k multiplies the vector elementwise by a
  deterministic Rademacher (+/-1) pattern seeded by k. Sign flips
  preserve every within-replica dot product exactly
  ((s . a) dot (s . b) = a dot b) and drive cross-replica cosines to
  ~0, so ANN/near-dup structure scales linearly by construction.
  vec_id offset by k * 10_000_000.

Each replica is written as its own part file inside a directory-shaped
parquet dataset, so the scan starts well-split (10 files) like real
warehouse output, not a single unsplittable row group.

Output: $SCALE_OUT_DIR (default /dev/shm/graft_sf1). Idempotent: skips
work when the output exists and the source stamp matches.
Run: python tools/make_scale_data.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, "/root/repo")

from flink_stream_processing_refarch_spark.operators.text import (  # noqa: E402
    EN_STOP,
)

#: bump when the replica construction changes — stale corpora regenerate
SCHEME = "stopword-preserving-v2"
_STOP = frozenset(EN_STOP)

SRC = "/root/testdata/sf0.1"
OUT = os.environ.get("SCALE_OUT_DIR", "/dev/shm/graft_sf1")
# 10 replicas = sf1 (the default decade); SCALE_REPLICAS=100 with
# SCALE_OUT_DIR=/dev/shm/graft_sf10 builds the second decade.
REPLICAS = int(os.environ.get("SCALE_REPLICAS", "10"))
ID_OFFSET = 10_000_000


def _src_stamp() -> str:
    st_d = os.stat(f"{SRC}/documents.parquet")
    st_e = os.stat(f"{SRC}/embeddings.parquet")
    return f"{st_d.st_size}:{st_d.st_mtime_ns}:{st_e.st_size}:{st_e.st_mtime_ns}"


def main() -> None:
    marker = os.path.join(OUT, "SOURCE_STAMP.json")
    if os.path.exists(marker):
        with open(marker) as f:
            m = json.load(f)
        if (
            m.get("stamp") == _src_stamp()
            and m.get("scheme") == SCHEME
            and m.get("replicas") == REPLICAS
        ):
            print(f"up to date: {OUT}")
            return

    docs = pq.read_table(f"{SRC}/documents.parquet")
    embs = pq.read_table(f"{SRC}/embeddings.parquet")
    os.makedirs(f"{OUT}/documents.parquet", exist_ok=True)
    os.makedirs(f"{OUT}/embeddings.parquet", exist_ok=True)

    doc_id = docs.column("doc_id").to_numpy()
    text = docs.column("text").to_pylist()
    lang = docs.column("lang")
    source = docs.column("source")
    for k in range(REPLICAS):
        if k == 0:
            t_k = text
        else:
            suf = f"_r{k}"
            t_k = [
                " ".join(
                    w if w in _STOP else w + suf for w in t.split(" ")
                )
                for t in text
            ]
        tbl = pa.table(
            {
                "doc_id": pa.array(doc_id + k * ID_OFFSET, type=pa.int64()),
                "text": pa.array(t_k, type=pa.string()),
                "lang": lang,
                "source": source,
                "n_chars": pa.array(
                    np.fromiter((len(t) for t in t_k), dtype=np.int64),
                    type=pa.int64(),
                ),
            }
        )
        dst_part = f"{OUT}/documents.parquet/part-{k:02d}.parquet"
        pq.write_table(tbl, dst_part)
        # strictly increasing mtimes: the streaming harness replays these
        # files as micro-batches; file-source order then matches the
        # doc_id-derived ingest time, so the watermark advances
        # monotonically
        os.utime(dst_part, ns=(k * 10**9, k * 10**9))

    vec_id = embs.column("vec_id").to_numpy()
    mat = np.asarray(embs.column("embedding").to_pylist(), dtype=np.float32)
    label = embs.column("label")
    dim = mat.shape[1]
    for k in range(REPLICAS):
        signs = (
            np.ones(dim, dtype=np.float32)
            if k == 0
            else np.where(
                np.random.default_rng(k).random(dim) < 0.5, -1.0, 1.0
            ).astype(np.float32)
        )
        flipped = mat * signs
        tbl = pa.table(
            {
                "vec_id": pa.array(vec_id + k * ID_OFFSET, type=pa.int64()),
                "embedding": pa.array(
                    [row for row in flipped.tolist()],
                    type=pa.list_(pa.float32()),
                ),
                "label": label,
            }
        )
        pq.write_table(tbl, f"{OUT}/embeddings.parquet/part-{k:02d}.parquet")

    # Other tables link to the sf0.1 originals (unscaled): the measured
    # queries read only documents/embeddings; the links just keep any
    # auxiliary load_table call working against this directory.
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ):
        dst = f"{OUT}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{SRC}/{t}.parquet", dst)

    with open(marker, "w") as f:
        json.dump(
            {"stamp": _src_stamp(), "replicas": REPLICAS, "scheme": SCHEME}, f
        )
    n_docs = docs.num_rows * REPLICAS
    n_vecs = embs.num_rows * REPLICAS
    print(f"wrote {OUT}: {n_docs} docs, {n_vecs} vectors", file=sys.stderr)
    print(OUT)


if __name__ == "__main__":
    main()
