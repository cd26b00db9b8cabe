"""Closed-form checks for the r4l operators: cell-cover compaction
(operators/compact.py) and the HDR-histogram quantile sketch
(operators/sketches.hdr_quantiles).  Oracle equality runs in
test_catalog_oracle; these pin the SEMANTICS — compaction's roundtrip /
minimality invariants and the sketch's bracket + mergeability
guarantees — against hand-computed expectations."""

from pyspark.sql import functions as F

from urbanistic_polygons_spark.catalog._shared import _rect_cells, _rects_df
from urbanistic_polygons_spark.operators.compact import (compact_cover,
                                                         uncompact_cover)
from urbanistic_polygons_spark.operators.sketches import (hdr_cells,
                                                          hdr_quantiles)

SF = "/root/testdata/sf0.001"


def _cover(spark, cells, gid=1, zoom=4):
    n = 1 << zoom
    rows = [(gid, y * n + x) for (x, y) in cells]
    return spark.createDataFrame(rows, "gid long, cell long")


def test_compact_aligned_block_promotes_two_levels(spark):
    # a full aligned 4x4 block at z4 -> ONE cell at z2
    cells = [(x, y) for x in range(4, 8) for y in range(8, 12)]
    out = compact_cover(_cover(spark, cells), "gid", "cell", 4, 2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["zoom"], r["cell"]) == (2, (8 // 4) * 4 + (4 // 4))


def test_compact_misaligned_block_stays_put(spark):
    # a full 2x2 block NOT aligned to the parent grid: no promotion
    cells = [(1, 1), (2, 1), (1, 2), (2, 2)]
    out = compact_cover(_cover(spark, cells), "gid", "cell", 4, 2).collect()
    assert sorted((r["zoom"], r["cell"]) for r in out) == sorted(
        (4, y * 16 + x) for (x, y) in cells)


def test_compact_partial_quad_mixed_output(spark):
    # aligned quad (0,0)..(1,1) promotes to z3; the lone (2,0) stays at z4
    cells = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0)]
    out = sorted((r["zoom"], r["cell"])
                 for r in compact_cover(_cover(spark, cells),
                                        "gid", "cell", 4, 2).collect())
    assert out == [(3, 0), (4, 2)]


def test_compact_groups_never_merge(spark):
    # the same aligned quad split across two gids: neither completes
    rows = [(1, 0), (1, 1), (2, 16), (2, 17)]
    df = spark.createDataFrame(rows, "gid long, cell long")
    out = compact_cover(df, "gid", "cell", 4, 2).collect()
    assert all(r["zoom"] == 4 for r in out) and len(out) == 4


def test_compact_roundtrip_and_minimality_on_rect_covers(spark):
    cover = _rect_cells(_rects_df(spark, SF)).select("poly_id", "cell_id")
    comp = compact_cover(cover, "poly_id", "cell_id", 14, 10)
    comp = comp.localCheckpoint(eager=True)
    # roundtrip: expanding back to z14 reproduces the input set exactly
    back = uncompact_cover(comp, "poly_id", 14)
    orig = set(map(tuple, cover.collect()))
    assert set(map(tuple, back.collect())) == orig
    # minimality: no four siblings coexist at any level above zoom_to
    for z in range(14, 10, -1):
        n = 1 << z
        par = (F.expr(f"(cell DIV {n}) DIV 2") * (n // 2)
               + F.expr(f"(cell % {n}) DIV 2"))
        quads = (comp.filter(F.col("zoom") == z)
                 .groupBy("poly_id", par.alias("p"))
                 .agg(F.count("*").alias("k")).filter("k >= 4"))
        assert quads.isEmpty()
    # compaction strictly shrinks this cover (it has aligned quads)
    assert comp.count() < len(orig)


def _vals(spark, vals, g="a"):
    return spark.createDataFrame([(g, v) for v in vals],
                                 "g string, v long")


def test_hdr_bracket_contains_exact_quantile(spark):
    vals = [7, 13, 130, 900, 901, 902, 4096, 65537, 10**12 + 17]
    qs = [2500, 5000, 9000, 10000]
    out = {r["q_permyriad"]: r
           for r in hdr_quantiles(_vals(spark, vals), "g", "v",
                                  qs).collect()}
    n = len(vals)
    sv = sorted(vals)
    for q in qs:
        k = min(max(1, (q * n + 9999) // 10000), n)
        exact = sv[k - 1]
        r = out[q]
        assert r["n"] == n and r["k"] == k
        assert r["est_lo"] <= exact <= r["est_hi"]
        # relative width <= 2^-5 for values above the exact-cell range
        assert r["est_hi"] - r["est_lo"] + 1 <= max(1, r["est_lo"] // 32)


def test_hdr_small_values_are_exact(spark):
    # values below 2^subbits land in width-1 cells: brackets degenerate
    out = hdr_quantiles(_vals(spark, [0, 1, 2, 3, 31]), "g", "v",
                        [5000]).first()
    assert out["est_lo"] == out["est_hi"] == 2


def test_hdr_cells_merge_cellwise(spark):
    # sketch(union) == cellwise sum of shard sketches (mergeability)
    a = [3, 5, 1000, 1001, 70000]
    b = [5, 64, 1000, 10**9]
    ca = {(r["e"], r["m"]): r["c"]
          for r in hdr_cells(_vals(spark, a), "g", "v").collect()}
    cb = {(r["e"], r["m"]): r["c"]
          for r in hdr_cells(_vals(spark, b), "g", "v").collect()}
    cu = {(r["e"], r["m"]): r["c"]
          for r in hdr_cells(_vals(spark, a + b), "g", "v").collect()}
    merged = dict(ca)
    for k, v in cb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == cu


def test_hdr_grouped_independence(spark):
    rows = [("a", 10), ("a", 1000), ("b", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {(r["g"], r["q_permyriad"]): r
           for r in hdr_quantiles(df, "g", "v", [10000]).collect()}
    assert out[("a", 10000)]["n"] == 2 and out[("b", 10000)]["n"] == 1
    assert out[("b", 10000)]["est_lo"] == 7
