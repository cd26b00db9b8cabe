#!/usr/bin/env python
"""DBSCAN scale evidence in BOTH growth regimes (r4 verdict item 4).

The catalog's `dbscan` query lives in a FIXED micro-coordinate region
(the shared PTS moduli), so a 10x dataset means 10x DENSITY — which
pushes the point field supercritical (mean eps-disk occupancy ~10 >> the
~4.5 2D percolation threshold): epsilon pairs grow ~density^2 and the
clusters percolate into one giant region-spanning component.  That is a
property of the WORKLOAD, not the implementation; timing it and calling
the growth "super-linear" would be noise.  This script therefore
measures both regimes explicitly:

1. **fixed-region 10x (the catalog shape)** — candidate-row and
   eps-pair COUNTS at sf0.1 vs the 10x dataset, verifying the counts
   track density^2 as theory says (work-optimality of the eps-grid
   join: candidates ~= 9 * eps^2 * rho * N, no corpus-squared term);
2. **constant-density 10x (how 100 TB actually arrives: more AREA)** —
   the full dbscan operator timed on N and 10N points spread over a
   1x and 10x area (same density, deterministic arithmetic points),
   expecting near-linear wall-time growth.

Usage: python scripts/scale_dbscan.py
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from pyspark.sql import functions as F  # noqa: E402

from urbanistic_polygons_spark.catalog._shared import _pts_df  # noqa: E402
from urbanistic_polygons_spark.catalog.clustering import (  # noqa: E402
    _DBSCAN_EPS, _DBSCAN_MINPTS)
from urbanistic_polygons_spark.operators.dbscan import (  # noqa: E402
    dbscan, eps_neighbor_pairs)
from urbanistic_polygons_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF10 = str(_REPO / ".scale" / "sf1.0")


def const_density_pts(spark, n, area_mult):
    """n deterministic pseudo-uniform points over an area_mult-times-
    wider region.  Genuinely 2-D scatter needs a NONLINEAR hash per
    axis: any affine pair (a*id mod mx, b*id mod my) is a 1-D curve on
    the torus whose points never come within eps of each other
    (measured: zero eps-pairs), which trivializes the benchmark.
    xxhash64 with two seeds decorrelates the axes.  Only the x axis is
    multiplied (a growing strip): scaling both axes by area_mult would
    grow the AREA by area_mult^2 and silently DROP the density."""
    mx = 1_890_000 * area_mult
    my = 1_520_000
    return spark.range(n).select(
        F.col("id").alias("point_id"),
        F.pmod(F.xxhash64("id"), F.lit(mx)).alias("px"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(my)).alias("py"))


def main():
    if not (Path(SF10) / "_SCALE_OK").exists():
        raise SystemExit(f"{SF10} is missing: build the 10x dataset first "
                         "with `python scripts/scale_stress.py`")
    spark = get_spark("dbscan_scale", cores=16, shuffle_partitions=32)
    out = {}

    # regime 1: fixed region, 10x density — counts only
    for label, sf in (("sf0.1", SF01), ("sf1.0", SF10)):
        pts = _pts_df(spark, sf)
        n = pts.count()
        cand = eps_neighbor_pairs(pts, _DBSCAN_EPS).count()
        out[f"fixed_region_{label}"] = {"points": n, "eps_pairs": cand,
                                        "pairs_per_point": round(cand / n, 2)}

    # regime 2: constant density, 1x vs 10x area — full operator timed
    for label, n, mult in (("1x", 150_000, 1), ("10x", 1_500_000, 10)):
        pts = const_density_pts(spark, n, mult).localCheckpoint(eager=True)
        cand = eps_neighbor_pairs(pts, _DBSCAN_EPS).count()
        dbscan(pts, eps=_DBSCAN_EPS, min_pts=_DBSCAN_MINPTS).count()  # warm
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            rows = dbscan(pts, eps=_DBSCAN_EPS,
                          min_pts=_DBSCAN_MINPTS).count()
            times.append(round(time.perf_counter() - t0, 2))
        out[f"const_density_{label}"] = {"points": n, "sec": min(times),
                                         "runs": times, "rows": rows,
                                         "eps_pairs": cand}
    r = (out["const_density_10x"]["sec"]
         / max(out["const_density_1x"]["sec"], 1e-9))
    out["const_density_time_ratio_10x"] = round(r, 2)
    p = (out["fixed_region_sf1.0"]["eps_pairs"]
         / max(out["fixed_region_sf0.1"]["eps_pairs"], 1))
    out["fixed_region_pair_ratio_10x"] = round(p, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
