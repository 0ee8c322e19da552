"""The reference's two continuous queries, written once (SURVEY.md §0).

This module is the only place the Q1/Q2 semantics are written: the
pickup geohash6 ``location``, the airport classifier and duration, the
per-cell aggregates, both HAVINGs, Q2's average and the trending rank.
The batch queries below and every streaming execution in
``streaming/jobs.py`` (bounded replays, the wire/Kinesis paths and the
``run_taxi_pipeline`` production job) derive from these definitions;
they differ only in the :class:`WindowKey` they pass.

Q1 — "areas with high pickup rates" (ProcessTaxiStream.java:96-106):
  trips per (pickup geohash6, 10-min tumbling event-time window), emit
  groups with count >= MIN_PICKUP_COUNT (= 2, ProcessTaxiStream.java:57),
  timestamped window.maxTimestamp() = end - 1 ms.

Q2 — "average trip duration to JFK/LGA" (ProcessTaxiStream.java:109-136):
  for trips dropping off near JFK or LGA (JFK checked first — else-if
  precedence, :114-117), sum and average of the whole-minute trip duration
  per (pickup geohash6, airport code, 10-min window); emit only groups with
  count > 1 (:123).

Window keys: a stream groups by Spark's ``window()`` struct over the
watermarked ``dropoff_ts`` (:func:`stream_window`), which is what lets
append mode finalize a window once the watermark passes its end. Batch
groups by the epoch-ms window end computed with modular arithmetic
(:func:`batch_window`): the same epoch alignment, no struct column.
Running the batch queries through the stream key gives identical rows
but is slower: q1_pickup_count 0.564 -> 0.582 s (+3%) and
q2_trip_duration 0.710 -> 0.756 s (+6%) at sf0.1 on a 4-core VM (median
of 15 alternating plan-cached runs), so batch keeps its own key.

Scale posture: the filter chain is all range predicates (pushed to scan);
the single shuffle per query is the hash exchange of groupBy on
(window, location[, airport]) — the same exchange Flink's keyBy does
(ProcessTaxiStream.java:98,120). Geohash encode is pure bitwise built-ins
inside whole-stage codegen.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..functions.timeutils import duration_min_sql, window_end_ms_sql
from ..sources.trips import clean_trips

MIN_PICKUP_COUNT = 2  # ProcessTaxiStream.java:57
TREND_TOP = 5  # trending cells kept per window
AIRPORTS = ("JFK", "LGA")  # classifier precedence order
_LEG_COLS = [f"{a}_{m}" for a in AIRPORTS for m in ("cnt", "sum")]


class WindowKey(NamedTuple):
    """A 10-minute tumbling event-time window as a grouping key: ``key``
    groups the trips, ``timestamp`` is window.maxTimestamp() (end - 1 ms,
    epoch-ms) over the grouped rows."""

    key: Column
    timestamp: Column


def batch_window() -> WindowKey:
    """Epoch-ms window end by modular arithmetic on ``dropoff_ms``."""
    return WindowKey(
        F.expr(window_end_ms_sql("dropoff_ms")).alias("wend"), F.col("wend") - 1
    )


def stream_window() -> WindowKey:
    """Spark's event-time window over the watermarked ``dropoff_ts``."""
    return WindowKey(
        F.window("dropoff_ts", "10 minutes"), F.unix_millis("window.end") - 1
    )


def with_location(trips: DataFrame) -> DataFrame:
    """Trips + ``location``, the pickup geohash6 (M1) both queries key on."""
    return geo.with_geohash(trips, "location", "pickup_lat", "pickup_lon", 6)


def with_airport_legs(trips: DataFrame) -> DataFrame:
    """Trips + Q2's per-trip columns (ProcessTaxiStream.java:110-119):
    ``airport_code`` is JFK (checked first), LGA or NULL by dropoff;
    ``duration_min`` is the floored-minute trip duration."""
    return trips.withColumns(
        {
            "airport_code": F.when(
                geo.near_jfk("dropoff_lat", "dropoff_lon"), F.lit("JFK")
            ).when(geo.near_lga("dropoff_lat", "dropoff_lon"), F.lit("LGA")),
            "duration_min": F.expr(
                duration_min_sql("dropoff_ms", "pickup_ms", "spark")
            ),
        }
    )


def airport_legs(trips: DataFrame) -> DataFrame:
    """M2 flatMap equivalent (ProcessTaxiStream.java:110-119): the trips
    dropping off at JFK or LGA, with duration and pickup geohash6."""
    return with_location(
        with_airport_legs(trips).filter(F.col("airport_code").isNotNull())
    )


def q1_having() -> Column:
    """Q1's HAVING: count >= MIN_PICKUP_COUNT (ProcessTaxiStream.java:103)."""
    return F.col("pickup_count") >= MIN_PICKUP_COUNT


def q2_having(count: str = "cnt") -> Column:
    """Q2's HAVING: count > 1 (ProcessTaxiStream.java:123)."""
    return F.col(count) > 1


def pickup_counts(trips: DataFrame, window: WindowKey) -> DataFrame:
    """Q1 before its HAVING: (location, pickup_count, timestamp) per
    pickup cell per window. The trending leaderboard ranks these."""
    return (
        with_location(trips)
        .groupBy(window.key, "location")
        .agg(F.count("*").alias("pickup_count"))
        .select("location", "pickup_count", window.timestamp.alias("timestamp"))
    )


def high_pickup_areas(trips: DataFrame, window: WindowKey) -> DataFrame:
    """Q1: (location, pickup_count, timestamp) per pickup cell per window,
    HAVING count >= MIN_PICKUP_COUNT."""
    return pickup_counts(trips, window).filter(q1_having())


def q2_rows(groups: DataFrame) -> DataFrame:
    """Q2 rows of (location, airport_code, sum_trip_duration, cnt,
    timestamp) groups: HAVING count > 1, avg = sum / count (:123-134)."""
    return groups.filter(q2_having()).select(
        "location",
        "airport_code",
        "sum_trip_duration",
        (F.col("sum_trip_duration").cast("double") / F.col("cnt")).alias(
            "avg_trip_duration"
        ),
        "timestamp",
    )


def trip_durations(trips: DataFrame, window: WindowKey) -> DataFrame:
    """Q2: per (window, location, airport) sum/avg of floored minutes."""
    return q2_rows(
        airport_legs(trips)
        .groupBy(window.key, "location", "airport_code")
        .agg(
            F.sum("duration_min").alias("sum_trip_duration"),
            F.count("*").alias("cnt"),
        )
        .withColumn("timestamp", window.timestamp)
    )


def _cell_aggs() -> list:
    """Per (window, geohash6) cell: the trip count (Q1) and, per airport
    leg, its trip count and duration sum (Q2). Legs are disjoint (JFK
    precedence): each Q2 (cell, airport) group is one leg of one cell."""
    aggs = [F.count("*").alias("pickup_count")]
    for a in AIRPORTS:
        is_a = F.col("airport_code") == a
        aggs += [
            F.count_if(is_a).alias(f"{a}_cnt"),
            F.sum(F.when(is_a, F.col("duration_min"))).alias(f"{a}_sum"),
        ]
    return aggs


def cell_aggregates(trips: DataFrame, window: WindowKey) -> DataFrame:
    """Q1 and Q2 as ONE windowed aggregation (:func:`_cell_aggs` per
    window and geohash6), as Flink fans one trip stream out to both
    window aggregates (ProcessTaxiStream.java:87,96,109). Cells that pass
    neither HAVING never leave the plan; :func:`q1_of_cells` and
    :func:`q2_of_cells` split the rest into the two results."""
    keep = q1_having()
    for a in AIRPORTS:
        keep = keep | q2_having(f"{a}_cnt")
    return (
        with_airport_legs(with_location(trips))
        .groupBy(window.key, "location")
        .agg(*_cell_aggs())
        .filter(keep)
        .select(
            "location",
            "pickup_count",
            *_LEG_COLS,
            window.timestamp.alias("timestamp"),
        )
    )


def q1_of_cells(cells: DataFrame) -> DataFrame:
    """Q1 rows of :func:`cell_aggregates`."""
    return cells.filter(q1_having()).select("location", "pickup_count", "timestamp")


def q2_of_cells(cells: DataFrame) -> DataFrame:
    """Q2 rows of :func:`cell_aggregates`, one per airport leg: each leg
    is one (location, airport, window) group."""
    legs = F.array(
        *[
            F.struct(
                F.lit(a).alias("airport_code"),
                F.col(f"{a}_sum").alias("sum_trip_duration"),
                F.col(f"{a}_cnt").alias("cnt"),
            )
            for a in AIRPORTS
        ]
    )
    return q2_rows(cells.select("location", "timestamp", F.inline(legs)))


def rank_trending(counts: DataFrame) -> DataFrame:
    """The top TREND_TOP cells of each window of :func:`pickup_counts`,
    with their rank — the "trending locations" leaderboard the
    reference's Kibana dashboard renders from Q1's output
    (elasticsearch/kibana-visualizations-and-dashboard.json), computed
    engine-side. No HAVING floor: quiet windows still report their top
    cells. Ties break to the lexicographically first cell. A stream ranks
    only finalized windows (a rank needs the whole window's counts), so
    it runs batch-side over the emitted counts: |windows| x |active
    cells| rows, not trips, the cheap tail of the pipeline at scale."""
    rn = F.row_number().over(
        Window.partitionBy("timestamp").orderBy(
            F.desc("pickup_count"), F.asc("location")
        )
    )
    return (
        counts.withColumn("rank", rn)
        .filter(F.col("rank") <= TREND_TOP)
        .select("timestamp", "location", "pickup_count", "rank")
    )


def q1_pickup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 over the derived trips table (batch = final streaming answer)."""
    return high_pickup_areas(clean_trips(spark, sf_dir), batch_window())


def airport_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`airport_legs` of the derived trips table."""
    return airport_legs(clean_trips(spark, sf_dir)).select(
        "trip_id", "location", "airport_code", "duration_min", "dropoff_ms"
    )


def q2_trip_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: per (location, airport, window) sum/avg of floored minutes."""
    return trip_durations(clean_trips(spark, sf_dir), batch_window())


def q_trending_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 10-minute window, the TREND_TOP pickup cells by trip count
    (:func:`rank_trending`)."""
    return rank_trending(pickup_counts(clean_trips(spark, sf_dir), batch_window()))


def q_trips_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The P1-P4 filter chain + geohash projection (M1) as its own query —
    the shared prefix both reference queries consume."""
    return with_location(clean_trips(spark, sf_dir)).select(
        "trip_id", "location", "dropoff_ms", "total_amount"
    )


def q_airport_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return airport_trips(spark, sf_dir).select(
        "trip_id", "location", "airport_code", "duration_min"
    )
