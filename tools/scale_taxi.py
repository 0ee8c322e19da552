"""Taxi-headline scaling decade: events path at sf1 (VERDICT r05 item 5).

The events consumers' bench evidence was sf0.1 only (100 k events, near
the local scheduling floor); the dedup/ANN families already have their
decades. This measures the reference queries a decade up: a composite
sf1 directory whose events table is 10 time-shifted replicas of the
driver's sf0.1 events (reusing scale_streaming.build_events — constant
per-window density, 10x more windows, disjoint time bands) and whose
other tables link to sf0.1 unchanged.

Methodology mirrors bench.py: median of N_RUNS=3 per query, headline
events/s = 2 x n_events / (q1 + q2), as in bench.py. Queries run through the same plans the
registry serves (taxi.q1_pickup_count / q2_trip_duration and the
taxi_pipeline production job). A throughput-holding decade means the
walls grow ~linearly while events/s holds at-or-above the sf0.1 figure
(amortizing the fixed local scheduling floor, it normally RISES).

Run: python tools/scale_taxi.py [SCALE REPLICAS]   (appends to SCALING.md)
  default: sf1 10 (the r06 decade). r08 ran `sf10 100` for the second
  taxi decade (10M events).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from flink_stream_processing_refarch_spark.session import get_spark  # noqa: E402

N_RUNS = 3
SF01 = "/root/testdata/sf0.1"

SCALE = sys.argv[1] if len(sys.argv) > 1 else "sf1"
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 10


def build_composite(scale: str | None = None, replicas: int | None = None) -> str:
    """Build (or reuse) the composite corpus for ``scale``/``replicas``.

    Callers MUST pass their own parsed values (r09 review: the other
    scale tools used to rely on this module re-parsing the same argv
    layout at import time — invoked programmatically, that silently
    built the default sf1 composite under an sf10 label). The module
    globals remain only as this script's own CLI defaults."""
    from scale_streaming import build_events

    scale = SCALE if scale is None else scale
    replicas = REPLICAS if replicas is None else replicas
    out = f"/dev/shm/graft_taxi_{scale}"
    events_dir = build_events(scale, replicas)
    os.makedirs(out, exist_ok=True)
    dst = f"{out}/events.parquet"
    if not os.path.islink(dst) and not os.path.isdir(dst):
        os.symlink(events_dir, dst)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    ):
        d = f"{out}/{t}.parquet"
        if not os.path.exists(d):
            os.symlink(f"{SF01}/{t}.parquet", d)
    return out


def median_wall(fn, spark, sf_dir) -> float:
    walls = []
    for _ in range(N_RUNS):
        t0 = time.time()
        fn(spark, sf_dir).count()
        walls.append(time.time() - t0)
    return statistics.median(walls)


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from flink_stream_processing_refarch_spark.plans import taxi
    from flink_stream_processing_refarch_spark.schemas import load_table
    from flink_stream_processing_refarch_spark.streaming import jobs

    comp = build_composite()
    spark = get_spark("scale_taxi")
    cases = {
        "q1_pickup_count": taxi.q1_pickup_count,
        "q2_trip_duration": taxi.q2_trip_duration,
        "taxi_pipeline": jobs.q_taxi_pipeline,
    }
    res: dict[str, dict[str, float]] = {}
    n_events: dict[str, int] = {}
    for label, sf_dir in (("sf0.1", SF01), (SCALE, comp)):
        n_events[label] = load_table(spark, sf_dir, "events").count()
        # warm: one untimed pass per query (JIT/codegen/materialization)
        for fn in cases.values():
            fn(spark, sf_dir).count()
        for name, fn in cases.items():
            res.setdefault(name, {})[label] = median_wall(fn, spark, sf_dir)
            print(label, name, round(res[name][label], 2), flush=True)

    eps = {
        lab: 2 * n_events[lab]
        / (res["q1_pickup_count"][lab] + res["q2_trip_duration"][lab])
        for lab in ("sf0.1", SCALE)
    }
    lines = [
        "",
        f"## Taxi headline decade (sf0.1 -> {SCALE})",
        "",
        f"Generated by `tools/scale_taxi.py {SCALE} {REPLICAS}`: the"
        f" composite {SCALE} corpus is",
        f"{REPLICAS} time-shifted replicas of the driver's sf0.1 events"
        " (constant",
        f"per-window density, {REPLICAS}x the windows). Medians of "
        f"{N_RUNS} runs, warmed,",
        "same plans the registry serves.",
        "",
        f"| query | sf0.1 wall | {SCALE} wall | growth ({REPLICAS}x data) |",
        "|---|---|---|---|",
    ]
    for name in cases:
        w1, w10 = res[name]["sf0.1"], res[name][SCALE]
        lines.append(
            f"| {name} | {w1:.2f}s | {w10:.2f}s | {w10 / w1:.1f}x |"
        )
    lines += [
        "",
        f"Headline events/s (2 x n_events / (q1+q2), the bench.py formula): sf0.1 = "
        f"{eps['sf0.1']:,.0f}; {SCALE} = {eps[SCALE]:,.0f} "
        f"({eps[SCALE] / eps['sf0.1']:.2f}x) — the 4-core-equivalent "
        f"figure at {SCALE} is {eps[SCALE] / 8:,.0f}/s vs BASELINE.md's "
        "~13k target. Throughput holding (or rising) a decade up means",
        "the sf0.1 headline was scheduling-floor-bound, not capacity-"
        "bound — the per-window work scales linearly.",
    ]
    with open("/root/repo/SCALING.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("appended taxi decade to SCALING.md")
    print({k: {l: round(v, 2) for l, v in d.items()} for k, d in res.items()})
    print("events/s:", {k: round(v) for k, v in eps.items()})


if __name__ == "__main__":
    main()
