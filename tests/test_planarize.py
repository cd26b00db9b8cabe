"""J4 planarization: crossing non-noded edges get split at proper
intersections; a square with crossing diagonals yields 4 triangular faces
+ exterior after planarize -> faces."""

import logging

import pytest
from pyspark.sql import functions as F

from urbanistic_polygons_spark.operators import planarize as PL
from urbanistic_polygons_spark.operators.faces import extract_faces
from urbanistic_polygons_spark.operators.planarize import (
    find_intersections, planarize,
)

B_LON, B_LAT = 4.78, 51.26
S = 0.004

EDGE_SCHEMA = ("edge_key string, v1_lon double, v1_lat double, "
               "v2_lon double, v2_lat double, shape_pts string")


def _square_with_diagonals(spark):
    c = [(B_LON, B_LAT), (B_LON + S, B_LAT), (B_LON + S, B_LAT + S),
         (B_LON, B_LAT + S)]
    rows = [
        ("side0", *c[0], *c[1], None),
        ("side1", *c[1], *c[2], None),
        ("side2", *c[2], *c[3], None),
        ("side3", *c[3], *c[0], None),
        ("diag0", *c[0], *c[2], None),  # crossing, not noded
        ("diag1", *c[1], *c[3], None),
    ]
    flat = [(k, a, b, x, y, s) for (k, a, b, x, y, s) in rows]
    return spark.createDataFrame(flat, EDGE_SCHEMA)


def test_find_intersections_center(spark):
    edges = _square_with_diagonals(spark)
    hits = find_intersections(edges).toPandas()
    # both diagonals get one split point each, at the square center
    assert set(hits.edge_key) == {"diag0", "diag1"}
    assert len(hits) == 2
    assert hits.lon.map(lambda v: abs(v - (B_LON + S / 2)) < 1e-9).all()
    assert hits.lat.map(lambda v: abs(v - (B_LAT + S / 2)) < 1e-9).all()


def test_planarize_splits_diagonals(spark, caplog):
    edges = _square_with_diagonals(spark)
    with caplog.at_level(logging.WARNING, logger=PL.__name__):
        flat = planarize(edges).toPandas()
    # planar within PLANARIZE_MAX_ROUNDS: no warning
    assert not [r for r in caplog.records if r.name == PL.__name__]
    # 4 sides + 4 half-diagonals
    assert len(flat) == 8
    # and is now intersection-free
    again = find_intersections(
        spark.createDataFrame(flat, EDGE_SCHEMA))
    assert again.isEmpty()


def test_planarize_round_bound_warns(spark, caplog, monkeypatch):
    # with one round the split result is never re-checked: the bound is
    # hit while still splitting, and that is logged
    monkeypatch.setattr(PL, "PLANARIZE_MAX_ROUNDS", 1)
    with caplog.at_level(logging.WARNING, logger=PL.__name__):
        flat = planarize(_square_with_diagonals(spark))
    assert flat.count() == 8
    assert any("PLANARIZE_MAX_ROUNDS" in r.getMessage()
               for r in caplog.records)


def test_faces_after_planarize(spark):
    edges = planarize(_square_with_diagonals(spark))
    bucketed = edges.select(
        F.lit(89563353).alias("anchor_cell"),  # cell of (4.78, 51.26)
        F.lit(1).alias("halo_ring"),
        "v1_lon", "v1_lat", "v2_lon", "v2_lat", "shape_pts",
        F.lit(True).alias("in_anchor"))
    faces = extract_faces(bucketed).filter(F.col("face_guid").isNotNull())
    pdf = faces.toPandas()
    # 4 triangles + 1 exterior
    assert len(pdf) == 5
    assert sorted(pdf.n_edges) == [3, 3, 3, 3, 4]


def test_noded_input_unchanged(spark):
    # edges sharing only endpoints are untouched (proper intersections only)
    rows = [("e0", B_LON, B_LAT, B_LON + S, B_LAT, None),
            ("e1", B_LON + S, B_LAT, B_LON + S, B_LAT + S, None)]
    edges = spark.createDataFrame(rows, EDGE_SCHEMA)
    assert find_intersections(edges).isEmpty()
    assert planarize(edges).count() == 2
