"""J4: edge x edge planarization — split edges at proper segment
intersections so the barrier graph is planar before face extraction.

Reference: AddEdgeFlattened + Intersect
(Graphs/Barrier/TiledBarrierGraphExtensions.cs:39-137, :399-443) — there an
incremental R-tree-backed loop per added edge; here one declarative
spatial SELF-JOIN per round:

1. explode edges -> segments (consecutive point pairs incl. shape points)
   with bbox + covering cell;
2. equi-join segment pairs on cell, JVM bbox prefilter, key dedup;
3. vectorized proper-intersection solve (2x2 cross-product form) in one
   Arrow batch — proper only: endpoint touches are NOT intersections,
   matching NTS RobustLineIntersector's IsProper gate;
4. split both edges at their hit parameters (graph_build's G2 running-sum
   segmentation and G5 standardize re-applied over the augmented point
   list);
5. iterate to fixpoint (OSM data is mostly pre-noded: <= 2 rounds).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from .graph_build import _split_at_vertices, _standardized

log = logging.getLogger(__name__)

PLANARIZE_MAX_ROUNDS = 3

_EDGE_COLS = ["edge_key", "v1_lon", "v1_lat", "v2_lon", "v2_lat", "shape_pts"]


def _edge_points(edges: DataFrame) -> DataFrame:
    """edge -> ordered point list array<struct<ord double, lon, lat>>."""
    mids = F.when(
        F.col("shape_pts").isNotNull() & (F.col("shape_pts") != ""),
        F.transform(
            F.split("shape_pts", ";"),
            lambda p, i: F.struct(
                (i + 1).cast("double").alias("ord"),
                F.split(p, " ").getItem(0).cast("double").alias("lon"),
                F.split(p, " ").getItem(1).cast("double").alias("lat")))
    ).otherwise(F.array())
    head = F.array(F.struct(F.lit(0.0).alias("ord"),
                            F.col("v1_lon").alias("lon"),
                            F.col("v1_lat").alias("lat")))
    npts = F.size(mids) + 1
    tail = F.array(F.struct(npts.cast("double").alias("ord"),
                            F.col("v2_lon").alias("lon"),
                            F.col("v2_lat").alias("lat")))
    return edges.withColumn("pts", F.concat(head, mids, tail))


def _segments(edges: DataFrame) -> DataFrame:
    """One row per consecutive point pair, with bbox + covering cell."""
    pts = _edge_points(edges)
    segs = (
        pts.select(
            "edge_key",
            F.expr("""
              transform(sequence(0, size(pts) - 2), i -> struct(
                pts[i].ord AS aord, pts[i].lon AS ax, pts[i].lat AS ay,
                pts[i+1].ord AS bord, pts[i+1].lon AS bx, pts[i+1].lat AS by))
            """).alias("segs"))
        .select("edge_key", F.explode("segs").alias("s"))
        .select("edge_key", "s.*")
    )
    segs = segs.withColumns({
        "minx": F.least("ax", "bx"), "maxx": F.greatest("ax", "bx"),
        "miny": F.least("ay", "by"), "maxy": F.greatest("ay", "by"),
    })
    # covering cells of the segment bbox (segments are short: usually 1)
    return segs.withColumn(
        "cell_id",
        F.explode(F.flatten(F.transform(
            F.sequence(C.tile_y(F.col("maxy")), C.tile_y(F.col("miny"))),
            lambda cy: F.transform(
                F.sequence(C.tile_x(F.col("minx")), C.tile_x(F.col("maxx"))),
                lambda cx: cy * F.lit(1 << 14) + cx)))))


_HIT_SCHEMA = T.StructType([
    T.StructField("t1", T.DoubleType()), T.StructField("t2", T.DoubleType()),
    T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
    T.StructField("hit", T.BooleanType()),
])


@F.pandas_udf(_HIT_SCHEMA)
def _proper_intersection(ax1: pd.Series, ay1: pd.Series, bx1: pd.Series, by1: pd.Series,
                         ax2: pd.Series, ay2: pd.Series, bx2: pd.Series, by2: pd.Series
                         ) -> pd.DataFrame:
    """Vectorized segment-pair proper intersection (strictly interior to
    both segments), NumPy over the whole Arrow batch."""
    p = np.stack([ax1, ay1], 1)
    r = np.stack([bx1, by1], 1) - p
    q = np.stack([ax2, ay2], 1)
    s = np.stack([bx2, by2], 1) - q
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / denom
    eps = 1e-12
    hit = (np.abs(denom) > eps) & (t > eps) & (t < 1 - eps) & (u > eps) & (u < 1 - eps)
    x = p[:, 0] + t * r[:, 0]
    y = p[:, 1] + t * r[:, 1]
    return pd.DataFrame({"t1": t, "t2": u, "x": x, "y": y, "hit": hit})


def find_intersections(edges: DataFrame) -> DataFrame:
    """(edge_key, ord double, lon, lat) split points from proper
    intersections between segments of DIFFERENT edges."""
    # materialize once: the cell-keyed SELF-join would otherwise recompute
    # the explode/window segment pipeline for each side (self-joins
    # re-execute their subtree per side — repo rule)
    segs = _segments(edges).localCheckpoint(eager=False)
    def pfx(df, p):
        return df.select([F.col(c).alias(f"{p}{c}") if c != "cell_id" else F.col(c)
                          for c in df.columns])
    l = pfx(segs, "l_")
    r = pfx(segs, "r_")
    pairs = (
        l.join(r, "cell_id")
        .filter(F.col("l_edge_key") < F.col("r_edge_key"))
        .filter((F.col("l_minx") <= F.col("r_maxx"))
                & (F.col("l_maxx") >= F.col("r_minx"))
                & (F.col("l_miny") <= F.col("r_maxy"))
                & (F.col("l_maxy") >= F.col("r_miny")))
        .dropDuplicates(["l_edge_key", "l_aord", "r_edge_key", "r_aord"])
    )
    hits = pairs.withColumn(
        "ix", _proper_intersection(
            F.col("l_ax"), F.col("l_ay"), F.col("l_bx"), F.col("l_by"),
            F.col("r_ax"), F.col("r_ay"), F.col("r_bx"), F.col("r_by")),
    ).filter(F.col("ix.hit"))
    left_pts = hits.select(
        F.col("l_edge_key").alias("edge_key"),
        (F.col("l_aord") + F.col("ix.t1") * (F.col("l_bord") - F.col("l_aord"))).alias("ord"),
        F.col("ix.x").alias("lon"), F.col("ix.y").alias("lat"))
    right_pts = hits.select(
        F.col("r_edge_key").alias("edge_key"),
        (F.col("r_aord") + F.col("ix.t2") * (F.col("r_bord") - F.col("r_aord"))).alias("ord"),
        F.col("ix.x").alias("lon"), F.col("ix.y").alias("lat"))
    return left_pts.unionByName(right_pts).dropDuplicates(["edge_key", "ord"])


def split_edges_at(edges: DataFrame, splits: DataFrame) -> DataFrame:
    """Rebuild edges with split points inserted as new vertices: the G2
    running-sum segmentation re-applied over the augmented point list."""
    pts = _edge_points(edges).select(
        "edge_key", F.explode("pts").alias("p")
    ).select(
        "edge_key", F.col("p.ord").alias("ord"),
        F.col("p.lon").alias("lon"), F.col("p.lat").alias("lat"),
        F.lit(False).alias("is_split"))
    aug = pts.unionByName(splits.select(
        "edge_key", "ord", "lon", "lat", F.lit(True).alias("is_split")))
    wend = Window.partitionBy("edge_key")
    aug = aug.withColumn(
        "is_vertex", (F.col("is_split")
                      | (F.col("ord") == F.min("ord").over(wend))
                      | (F.col("ord") == F.max("ord").over(wend))))
    return _split_at_vertices(aug, "edge_key", "ord").select(
        F.concat_ws("#", "edge_key", "seg").alias("edge_key"),
        *_standardized())


def planarize(edges: DataFrame) -> DataFrame:
    """Iterate find-intersections / split until planar, at most
    PLANARIZE_MAX_ROUNDS rounds; a last round that still split edges logs a
    warning.

    ``edges`` columns: edge_key string + endpoint/shape columns as in
    graph_build output.  Scale: each round is one cell-keyed self-join —
    no driver-side geometry."""
    cur = edges
    for _ in range(PLANARIZE_MAX_ROUNDS):
        splits = find_intersections(cur).localCheckpoint()
        if splits.isEmpty():
            break
        # localCheckpoint truncates the per-round plan lineage (each round
        # nests explode/window/group over the previous one); production
        # pipelines checkpoint to storage via plans.lineage.LineageStore
        cur = split_edges_at(cur, splits).localCheckpoint()
    else:
        log.warning(
            "planarize: round %d (PLANARIZE_MAX_ROUNDS) still split edges; "
            "the result may still have crossings", PLANARIZE_MAX_ROUNDS)
    return cur
