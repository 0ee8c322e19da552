"""Schemas for the reference's wire and output models (SURVEY.md §1).

The reference deserializes JSON with Gson using snake_case naming and a
type-discriminated union on the ``type`` field
(flink-taxi-stream-processor/.../events/kinesis/Event.java:31-54). Spark
needs no POJO codegen — one wide StructType covers both event types
(``trip`` and ``watermark``); ``from_json`` binds snake_case directly.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

# Union of TripEvent (events/kinesis/TripEvent.java:22-28, producer-side
# trip_id at kinesis-taxi-stream-producer/.../events/TripEvent.java:30) and
# WatermarkEvent (events/kinesis/WatermarkEvent.java:21-31).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("trip_id", T.LongType()),
        T.StructField("pickup_datetime", T.TimestampType()),
        T.StructField("dropoff_datetime", T.TimestampType()),
        T.StructField("pickup_lat", T.DoubleType()),
        T.StructField("pickup_lon", T.DoubleType()),
        T.StructField("dropoff_lat", T.DoubleType()),
        T.StructField("dropoff_lon", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("watermark", T.TimestampType()),
    ]
)

# Q1 output document (events/es/PickupCount.java:19-29, es-index.json:3-11).
PICKUP_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("location", T.StringType()),
        T.StructField("pickup_count", T.LongType()),
        T.StructField("timestamp", T.LongType()),  # window end - 1 ms
    ]
)

# Q2 output document (events/es/TripDuration.java:19-33, es-index.json:13-30).
TRIP_DURATION_SCHEMA = T.StructType(
    [
        T.StructField("location", T.StringType()),
        T.StructField("airport_code", T.StringType()),
        T.StructField("sum_trip_duration", T.LongType()),
        T.StructField("avg_trip_duration", T.DoubleType()),
        T.StructField("timestamp", T.LongType()),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark, sf_dir: str, name: str, materialize: bool = True):
    """Read one testdata parquet table (TESTDATA.md).

    Pins the session timezone to UTC first: NTZ->TZ casts and epoch
    extraction must agree with DuckDB's naive-UTC reading even when the
    caller (e.g. the external driver) built the session without it.

    ``events`` additionally gets its ``ts`` normalized to BIGINT
    epoch-nanos (see :func:`normalize_event_ts`) so every downstream
    plan can use one arithmetic (``ts DIV 1000000`` -> epoch ms)
    regardless of which physical timestamp layout the driver generated.
    When the local source scan is starved (single-row-group file), the
    read is served from the once-per-stamp normalized materialization
    (:func:`normalized_events_path`); ``materialize=False`` forces the
    direct source read (used by the materializer itself).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # must be set BEFORE the read: a TIMESTAMP(NANOS) layout is
        # unreadable without it (the MICROS layout ignores it)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if materialize:
            norm = normalized_events_path(spark, sf_dir)
            if norm is not None:
                return spark.read.parquet(norm)  # ts already BIGINT nanos
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df):
    """Normalize ``events.ts`` to BIGINT epoch-nanos.

    The driver's testdata generator has produced both parquet layouts
    across rounds: TIMESTAMP(NANOS) — which Spark can only read under
    ``spark.sql.legacy.parquet.nanosAsLong`` as a BIGINT of nanos — and
    TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ. DuckDB reads either
    as naive TIMESTAMP, so the oracles' ``epoch_ms(ts)`` is layout-blind;
    this shim gives the Spark side the same property. The NTZ->LTZ cast
    is exact because load_table pins the session timezone to UTC.
    """
    from pyspark.sql import functions as F  # noqa: N812

    if "ts" not in df.columns:
        return df
    dtype = dict(df.dtypes)["ts"]
    if dtype in ("timestamp", "timestamp_ntz"):
        df = df.withColumn(
            "ts", (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
        )
    return df


def table_stamp(path: str) -> tuple[int, int]:
    """Cheap freshness token for a parquet table: (total bytes, max
    mtime_ns) over the file, or over the part files when ``path`` is a
    directory-shaped dataset (os.path.getsize on a directory returns the
    inode size, ~4 KB, which is useless as either a size estimate or a
    change detector). Any in-place regeneration of the testdata — the
    documented round-over-round layout drift — changes this token, so
    every cache keyed on it self-invalidates."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        size, mtime = 0, st.st_mtime_ns
        with os.scandir(path) as it:
            for e in it:
                try:
                    s = e.stat()
                except OSError:
                    continue
                size += s.st_size
                mtime = max(mtime, s.st_mtime_ns)
        return (size, mtime)
    except OSError:
        return (-1, -1)  # non-local / unreadable: one stable token


def table_row_count(path: str) -> int | None:
    """Exact row count of a parquet table from FOOTER METADATA — no
    Spark job (r14 optimization round: fixture-sizing ``docs.count()``
    calls in the corpus roundtrip entries each scheduled a full scan
    for a number the footers already record). Handles the local
    single-file layout and a directory of part files; returns None when
    the metadata cannot be read (caller falls back to ``df.count()``)."""
    import glob as _glob

    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            parts = _glob.glob(os.path.join(path, "*.parquet"))
            if not parts:
                return None
            # a layout mixing top-level part files with nested
            # (partition) subdirectories is outside this helper's
            # contract — summing only the flat files would be a SILENT
            # undercount; fall back to the caller's df.count()
            if any(
                e.is_dir() and not e.name.startswith((".", "_"))
                for e in os.scandir(path)
            ):
                return None
            return sum(
                pq.ParquetFile(p).metadata.num_rows for p in parts
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


#: memoized (path, stamp, confs) -> estimated scan split count
_SPLIT_EST_CACHE: dict = {}


def _byte_conf(spark, conf_key: str, default: int) -> int:
    """A Spark byte-size conf as an int, accepting unit suffixes
    ('64m', '134217728b', '1g') — int() alone would raise and silently
    fall back, discarding an explicitly-set value."""
    try:
        raw = spark.conf.get(conf_key, None)
    except Exception:
        raw = None
    if raw is None:
        return default
    s = str(raw).strip().lower()
    mult = 1
    for suffix, m in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return default


def _scan_splits_estimate(spark, src_path: str) -> int:
    """Estimated parquet scan split count from file METADATA only.

    Mirrors Spark's FilePartition split rule — maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism)) —
    for a local path; non-local / unreadable paths (s3:// etc. — the
    at-scale case) report "many" so the starved-scan gate no-ops. Pure
    os.stat — no plan analysis, no Py4J job — because the gate runs at
    PLAN BUILD time on every query and a ``df.rdd`` probe here costs a
    full extra physical-planning pass per call (measured ~0.3 s driver
    time at local[32])."""
    import math

    max_pb = _byte_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    open_cost = _byte_conf(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    par = spark.sparkContext.defaultParallelism
    stamp = table_stamp(src_path)
    key = (src_path, stamp, max_pb, open_cost, par)
    if key not in _SPLIT_EST_CACHE:
        size = stamp[0]
        if size < 0:
            est = 1 << 20  # non-local path: assume well-split (at scale)
        else:
            max_split = min(max_pb, max(open_cost, size // max(1, par)))
            est = max(1, math.ceil(size / max(1, max_split)))
        _SPLIT_EST_CACHE[key] = est
    return _SPLIT_EST_CACHE[key]


#: Target source bytes per materialized file. Sizes the normalized-events
#: layout to the DATA, not to defaultParallelism: at sf0.1 (~2 MB) this
#: yields ~8 files, enough parallel splits for the CPU-bound headline map
#: work while trivial scans stop paying a 32-task scheduling floor per
#: stage (the r04 regression cluster: time_rollup & co. 2-3x).
NORM_EVENTS_BYTES_PER_FILE = 256 * 1024


def _norm_events_file_count(src_bytes: int, par: int) -> int:
    import math

    if src_bytes < 0:
        return par
    return max(2, min(par, math.ceil(src_bytes / NORM_EVENTS_BYTES_PER_FILE)))


#: (sf_dir, events stamp, parallelism, nfiles) -> materialized dir
_NORM_EVENTS_CACHE: dict = {}

#: where throwaway directories go: RAM-backed tmpfs when the host has
#: one, else the platform temp dir (``tempfile``'s ``dir=None``)
TMPFS_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

#: every scratch dir created via scratch_dir(), for one atexit cleanup
_SCRATCH_DIRS: list = []


def _cleanup_scratch_dirs() -> None:  # pragma: no cover - exit hook
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A throwaway materialization directory: tmpfs (/dev/shm) when
    present, removed at interpreter exit. The ONE implementation of the
    pattern every stamp-keyed scratch materialization uses (normalized
    events, PQ codes sidecar, corpus-roundtrip corpora, embedding split
    replicas) — cleanup semantics live here, not in per-site copies."""
    import atexit
    import tempfile

    out = tempfile.mkdtemp(prefix=prefix, dir=TMPFS_BASE)
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch_dirs)
    _SCRATCH_DIRS.append(out)
    return out


def evict_stale_stamp(
    cache: dict,
    key: tuple,
    stamp_idx: int | tuple,
    remove_dirs: bool = False,
    ignore_idx: int | tuple = (),
) -> None:
    """Drop memo-cache entries that differ from ``key`` at the
    table-stamp position — i.e. older generations of the SAME
    (sf_dir[, knobs]) entry after an in-place table regeneration
    (VERDICT r05 item 6: without this, a long-lived session's stamp-keyed
    memo caches and their scratch artifacts grow monotonically).
    ``remove_dirs=True`` additionally deletes the evicted value as a
    scratch directory path. ``stamp_idx`` may be a tuple when derived
    knobs (e.g. a data-sized file count) change with the stamp.
    ``ignore_idx`` positions are compared NOT AT ALL (ADVICE r06: the PQ
    sidecar cache evicts stale stamps across EVERY K — the recall
    tooling's K sweep legitimately holds several same-stamp Ks live at
    once, but an old-stamp entry at any K is dead weight). Entries that
    differ only at ignored positions are kept. Call at every insert
    site, BEFORE inserting the fresh key."""
    idxs = stamp_idx if isinstance(stamp_idx, tuple) else (stamp_idx,)
    ign = set(idxs) | set(
        ignore_idx if isinstance(ignore_idx, tuple) else (ignore_idx,)
    )
    stale = [
        k
        for k in cache
        if len(k) == len(key)
        and any(k[i] != key[i] for i in idxs)
        and all(k[i] == key[i] for i in range(len(key)) if i not in ign)
    ]
    for k in stale:
        v = cache.pop(k)
        if remove_dirs and isinstance(v, str):
            import shutil

            shutil.rmtree(v, ignore_errors=True)
            if v in _SCRATCH_DIRS:
                _SCRATCH_DIRS.remove(v)


#: tag -> (live persisted DataFrame, semantic hash) for that builder site
_LIVE_PERSISTS: dict = {}


def _leaf_file_stamps(df) -> tuple:
    """(path, mtime_ns) of every file-relation leaf in the ANALYZED
    logical plan — cache-state-independent (unlike ``df.inputFiles``,
    which runs after cache substitution) and raising on any non-local
    / unrecognized leaf so the caller falls back to never-stale
    supersede semantics."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        cls = node.getClass().getSimpleName()
        if cls in ("OneRowRelation", "LocalRelation", "Range"):
            continue
        if not cls.startswith("LogicalRelation"):
            raise ValueError(f"unstampable leaf {cls}")
        for f in node.relation().location().inputFiles():
            if not f.startswith("file:"):
                raise ValueError(f"non-local file {f}")
            out.append((f, os.stat(f.removeprefix("file:")).st_mtime_ns))
    return tuple(sorted(out))


def _same_result(odf, df) -> bool:
    """Full plan-equality confirmation behind the 32-bit semanticHash
    (ADVICE r07: a hash collision between two different plans under the
    same tag with identical source files would silently return the
    wrong cached relation) — the same hash-then-sameResult pairing
    Spark's own CacheManager uses. False (supersede, never reuse) on
    any introspection failure."""
    try:
        return bool(
            odf._jdf.queryExecution()
            .analyzed()
            .sameResult(df._jdf.queryExecution().analyzed())
        )
    except Exception:  # pragma: no cover - connect/dead-session handles
        return False


def persist_latest(df, tag: str):
    """``persist()`` with SEMANTIC previous-generation release: at most
    one live persisted relation per tag, and a repeat call whose plan is
    semantically IDENTICAL to the live one returns the live (already
    materialized) DataFrame instead of unpersist-and-recompute. Only a
    genuinely superseded generation — a different plan under the same
    tag, i.e. a table-stamp/knob change — is unpersisted (non-blocking;
    a stale holder simply recomputes).

    Both halves matter. The release half closes the CacheManager side
    of the stale-cache growth that :func:`evict_stale_stamp` closes for
    memo dicts (review finding r06): per-call ``persist()`` in plan
    builders otherwise leaves one dead cached relation per call in a
    long-lived session. The SEMANTIC half (ADVICE r06's
    plan-hash-keying option, adopted r07 after measurement) is what
    keeps repeat builds cheap: the naive one-live-per-tag rule
    unpersisted a plan-identical predecessor on EVERY rebuild, so each
    timed decade run of ``hybrid_retrieval`` recomputed the whole BM25
    pipeline inside its candidate persist — measured ~7 s/call at sf1
    vs ~2.8 s with the identical-plan reuse (and r06's committed 2.73 s
    row, which predated the lifecycle change, was exactly this reuse
    via plain ``persist()``'s CacheManager plan matching)."""
    # Reuse key = (session, canonical plan, source-file stamps): the
    # plan hash alone would return STALE data after an in-place table
    # regeneration (same path, same plan, new bytes — the exact event
    # evict_stale_stamp exists for), so the leaf files' (path, mtime)
    # stamps join the key; any failure to derive the key degrades to
    # the never-stale always-supersede behavior, not to reuse. The
    # stamps come from the ANALYZED plan's leaves, NOT df.inputFiles():
    # inputFiles reflects cache substitution (it returns [] once the
    # plan is served from a cached relation), which made the key
    # cache-state-dependent — the second build after a persist saw a
    # different key and superseded the generation it should have
    # reused.
    try:
        h = (df.sparkSession, df.semanticHash(), _leaf_file_stamps(df))
    except Exception:  # pragma: no cover - connect/legacy fallbacks
        h = None
    old = _LIVE_PERSISTS.get(tag)
    if old is not None:
        odf, oh = old
        if h is not None and oh == h and _same_result(odf, df):
            # an external clearCache()/unpersist may have dropped the
            # live entry's storage — re-register, or the twice-
            # referenced relation inlines its subtree per consumer
            # (two corpus scans, the exact shape the persist prevents)
            lvl = odf.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                odf.persist()
            return odf
        try:
            odf.unpersist(False)
        except Exception:  # pragma: no cover - dead session handles
            pass
    _LIVE_PERSISTS[tag] = (df.persist(), h)
    return df


def normalized_events_path(spark, sf_dir: str) -> str | None:
    """Path of a layout-normalized ``events`` materialization, or None.

    The events table is the input of both reference queries (batch and
    streaming), and the driver's generator flips its physical timestamp
    layout between rounds (NANOS vs MICROS — see normalize_event_ts).
    This is the engine's bronze->silver ingest step: materialize the
    table ONCE per (sf_dir, file stamp) with ``ts`` already normalized
    to BIGINT epoch-nanos and the rows split across a DATA-SIZED file
    count (:func:`_norm_events_file_count` — ~256 KB/file, capped at
    ``defaultParallelism``, floor 2), so every subsequent read — batch
    plan builds, per-run bench executions, and each streaming replay —
    scans an already-normalized, well-split dataset instead of re-paying
    the layout shim and a serial single-file scan per run. Sizing files
    to the data rather than to the core count matters measurably: the
    r04 layout (32 files at sf0.1, ~64 KB each) made every trivial
    events scan pay a 32-task scheduling floor per stage (time_rollup &
    co. regressed 2-3x) and even slowed the CPU-heavy headline; the
    8-file layout at sf0.1 was the measured optimum for BOTH (headline
    1.44 -> 1.13 s, cheap scans back to their pre-materialization walls;
    the measured grid is in README.md).

    GATED like :func:`spread`: only the starved-scan local case (source
    splits < cores — the single-row-group testdata files, which Spark
    cannot split) materializes. At cluster scale the source scan already
    has >= cores splits and the expression shim is free inside codegen,
    so this returns None and callers read the source directly — no extra
    100 TB copy is ever implied. The stamp in the cache key means an
    in-place testdata regeneration (the documented drift scenario)
    triggers a fresh materialization rather than serving stale rows.

    The copy is an exact parquet->parquet roundtrip (BIGINT/DOUBLE/STRING
    columns; the only rewrite is the ts layout normalization), so results
    are bit-identical to reading the source; round-robin file placement
    is content-neutral for every consumer (aggregations / joins /
    windowed streams over the whole bounded set).
    """
    src = f"{sf_dir}/events.parquet"
    par = spark.sparkContext.defaultParallelism
    if _scan_splits_estimate(spark, src) >= par:
        return None  # at-scale shape: read the source directly
    stamp = table_stamp(src)
    nfiles = _norm_events_file_count(stamp[0], par)
    key = (sf_dir, stamp, par, nfiles)
    path = _NORM_EVENTS_CACHE.get(key)
    if path is not None and os.path.isdir(path):
        return path
    out = scratch_dir("events_norm_")
    df = load_table(spark, sf_dir, "events", materialize=False)
    df.repartition(nfiles).write.mode("overwrite").parquet(out)
    # stamp (and its derived nfiles) changed in place -> the previous
    # generation's materialization is unreachable; drop dir + entry
    evict_stale_stamp(_NORM_EVENTS_CACHE, key, (1, 3), remove_dirs=True)
    _NORM_EVENTS_CACHE[key] = out
    return out


def spread(df, src_path: str | None = None):
    """Round-robin repartition ONLY when the scan is under-parallelized.

    The local testdata tables are single-file / single-row-group parquet,
    so they scan as 1-3 partitions and starve CPU-bound map work (md5,
    shingling) at local[32]. At real scale the scan has >= cores splits
    and this returns the input unchanged — so wide columns (document
    text) never cross a repartition exchange in the at-scale plan; the
    exchange exists only in the starved-scan local case. Callers should
    project down to the columns they need *before* calling.

    When ``src_path`` (the parquet file the plan scans) is given, the
    starved-scan test is a metadata-only size estimate; otherwise it
    falls back to a ``df.rdd`` partition probe, which costs an extra
    physical-planning pass — pass the path on hot build paths.
    """
    sess = df.sparkSession
    par = sess.sparkContext.defaultParallelism
    if src_path is not None:
        starved = _scan_splits_estimate(sess, src_path) < par
    else:
        starved = df.rdd.getNumPartitions() < par
    return df.repartition(par) if starved else df
