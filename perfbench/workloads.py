"""The benchmark's workloads: the E2 bulk build and the flagship assign job.

Each workload makes its inputs from the seed, runs the job once on a
fresh lineage workdir (the timed part), and checks what the job
committed.  The jobs call every layer through its module attribute
(``graph_build.planarize_edges``, not a bound name) so that the traced
run's wrappers (spans.py) see each call.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from urbanistic_polygons_spark import datagen
from urbanistic_polygons_spark.functions import cells as C
from urbanistic_polygons_spark.operators import (classify, graph_build,
                                                 landuse_join, merge,
                                                 spatial_join)
from urbanistic_polygons_spark.plans.lineage import LineageStore
from urbanistic_polygons_spark.sources import mvt

import oracle

EXPECTED = Path(__file__).resolve().parent / "expected.json"

# datagen.DOCUMENTS_SCHEMA / POLYGONS_SCHEMA (the input_hint schema) as Arrow
DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())]))),
])
POLYGONS_ARROW = pa.schema([
    ("polygon_guid", pa.string()), ("cells", pa.list_(pa.int64())),
    ("ring", pa.string()), ("min_lon", pa.float64()), ("min_lat", pa.float64()),
    ("max_lon", pa.float64()), ("max_lat", pa.float64()),
    ("landuse", pa.map_(pa.string(), pa.float64())),
])


def digest(rows) -> str:
    """Order-independent digest of a set of rows."""
    canon = sorted(json.dumps(list(r), default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def _committed(store: LineageStore, stage: str, cols: list[str]) -> list:
    return [tuple(r) for r in store.read(stage).select(*cols).collect()]


def _methods(rows) -> dict[str, int]:
    """Assignments per method (the last field of each row)."""
    return dict(sorted(Counter(r[-1] for r in rows).items()))


# layer counters of the traced run, besides the generic per-layer ones in
# spans.py; a layer the workload bypasses reports 0
COUNTERS = [
    "graph_build.planarize_calls", "faces.faces_out",
    "landuse_join.overlap_pairs", "spatial_join.candidate_rows",
    "spatial_join.pip_hit_ratio", "knn.orphans", "knn.snap_ratio",
    "mvt.tiles", "mvt.bytes", "lineage.partitions_written",
    "lineage.files_written", "lineage.bytes_written",
]


class Workload:
    """A job with seeded inputs and a check of what it committed."""
    stages: tuple[str, ...] = ()

    def layer_counts(self, spark, inputs, workdir: str, tracer) -> dict:
        """Counters read back after the traced job, outside its window:
        the tiles and files the job committed."""
        store = LineageStore(workdir)
        files = list(Path(workdir).rglob("*.parquet"))
        out = dict.fromkeys(COUNTERS, 0.0)
        out.update({
            "mvt.tiles": store.counters("tiles").get("n_rows", 0),
            "mvt.bytes": store.read("tiles").agg(
                F.sum("mvt_bytes")).first()[0] or 0,
            "lineage.partitions_written": sum(
                store.counters(s).get("n_partitions", 0) for s in self.stages),
            "lineage.files_written": len(files),
            "lineage.bytes_written": sum(p.stat().st_size for p in files),
        })
        return out

    def check(self, spark, inputs, seed: int, workdir: str,
              expected: dict | None = None) -> list[str]:
        """Mismatches between the committed outputs and ``expected``
        (default: this workload's expected values for ``seed``)."""
        want = expected if expected is not None else self.expected(inputs, seed)
        got = self.observed(spark, inputs, workdir)
        return [f"{key}: expected {want[key]!r}, got {got.get(key)!r}"
                for key in want if got.get(key) != want[key]]


@dataclass(frozen=True)
class Build(Workload):
    """Stages 2-5 of scripts/run_graph_pipeline.py (faces -> landuse ->
    merge -> tiles) on the ``k`` x ``k`` lattice.  The lattice has no
    jitter, so its input is fixed by ``k`` and the seed does not change
    it; the expected counts and digests are recorded in expected.json."""
    k: int

    stages = ("faces", "landuse", "merge", "tiles")

    def inputs(self, spark, seed: int, root: Path):
        return datagen.gen_ways_grid(k=self.k, seed=44, jitter=0.0)

    def run(self, spark, inputs, workdir: str) -> None:
        nodes_pdf, ways_pdf = inputs
        store = LineageStore(workdir)
        nodes = spark.createDataFrame(
            nodes_pdf, schema="node_id long, lon double, lat double")
        ways = spark.createDataFrame(
            ways_pdf,
            schema="way_id long, nodes array<long>, tags map<string,string>")

        faces = graph_build.build_faces_from_ways(nodes, ways)
        faces = store.checkpoint(faces, "faces", "anchor_cell")
        faces = faces.dropDuplicates(["face_guid"]).localCheckpoint(eager=True)

        lu_ways = classify.classify_landuse_ways(spark, ways)
        pts = (lu_ways.select("way_id", "cls",
                              F.posexplode("nodes").alias("pos", "node_id"))
               .join(nodes.select("node_id", "lon", "lat"), "node_id"))
        rings = (pts.groupBy("way_id")
                 .agg(F.array_sort(F.collect_list(
                     F.struct("pos", "lon", "lat"))).alias("p"),
                     F.first("cls").alias("cls"))
                 .select(F.col("way_id").alias("lu_id"), "cls",
                         F.concat_ws(";", F.transform(
                             "p", lambda q: F.format_string(
                                 "%.9f %.9f", q["lon"], q["lat"]))).alias("ring"),
                         F.array_min(F.transform("p", lambda q: q["lon"])).alias("min_lon"),
                         F.array_min(F.transform("p", lambda q: q["lat"])).alias("min_lat"),
                         F.array_max(F.transform("p", lambda q: q["lon"])).alias("max_lon"),
                         F.array_max(F.transform("p", lambda q: q["lat"])).alias("max_lat")))
        dom = (landuse_join.dominant_type(landuse_join.assign_landuse(faces, rings))
               .join(faces.select("face_guid", "anchor_cell"), "face_guid"))
        dom = store.checkpoint(dom, "landuse", "anchor_cell")

        edges = graph_build.planarize_edges(graph_build.split_ways_to_edges(
            nodes, graph_build.classify_barriers(ways)))
        seg_res = merge.segment_resistance(
            edges, classify.classify_barrier_ways(spark, ways))
        merged = merge.merge_faces(
            faces, seg_res, 3, dominant=dom.select("face_guid", "dominant_cls"))
        merged = store.checkpoint(merged, "merge", "anchor_cell")

        tiles = mvt.faces_to_mvt(
            merged.select("face_guid", "ring", "min_lon", "min_lat",
                          "max_lon", "max_lat"))
        store.checkpoint(tiles.select(
            "tile_z", "tile_x", "tile_y", "n_features",
            F.length("mvt").alias("mvt_bytes"),
            F.col("tile_y").alias("tile_prefix")), "tiles", "tile_prefix")

    def observed(self, spark, inputs, workdir: str) -> dict:
        store = LineageStore(workdir)
        out = {s: store.counters(s).get("n_rows") for s in self.stages}
        out["digest"] = digest(
            _committed(store, "faces", ["face_guid"])
            + _committed(store, "landuse", ["face_guid", "dominant_cls"])
            + _committed(store, "merge", ["face_guid", "region"])
            + _committed(store, "tiles",
                         ["tile_x", "tile_y", "n_features", "mvt_bytes"]))
        return out

    def expected(self, inputs, seed: int) -> dict:
        return json.loads(EXPECTED.read_text())[f"build_k{self.k}"]

    def layer_counts(self, spark, inputs, workdir: str, tracer) -> dict:
        out = super().layer_counts(spark, inputs, workdir, tracer)
        out.update({
            "graph_build.planarize_calls": tracer.count("planarize_edges"),
            "faces.faces_out": LineageStore(workdir).counters(
                "faces").get("n_rows", 0),
            "landuse_join.overlap_pairs": sum(
                df.count() for df in tracer.outputs.get("assign_landuse", [])),
        })
        return out


@dataclass(frozen=True)
class Assign(Workload):
    """The four stages of scripts/run_pipeline.py (ingest -> assign ->
    rollup -> z11 tiles) over ``n_docs`` seeded documents (80% in four
    hot cells) and ``n_polys`` seeded polygons, both staged as parquet."""
    n_docs: int
    n_polys: int

    stages = ("ingest", "assign", "rollup", "tiles")

    def inputs(self, spark, seed: int, root: Path):
        """Generate the documents and polygons and stage each as one
        parquet file (written by pyarrow, so staging runs no Spark job)."""
        docs_pdf = datagen.gen_documents(self.n_docs, seed, skew=0.8)
        polys_pdf = datagen.gen_polygons(self.n_polys, seed + 1)
        docs = docs_pdf.assign(spans=docs_pdf["spans"].apply(
            lambda sp: [{"kind": k, "text": t, "media_ref": m, "offset": o}
                        for k, t, m, o in sp]))
        staged = {}
        for name, pdf, schema in (("docs", docs, DOCS_ARROW),
                                  ("polys", polys_pdf, POLYGONS_ARROW)):
            path = root / name
            path.mkdir(parents=True)
            pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                                preserve_index=False),
                           path / "part-0.parquet")
            staged[f"{name}_dir"] = str(path)
        return {"docs_pdf": docs_pdf, "polys_pdf": polys_pdf, **staged}

    def run(self, spark, inputs, workdir: str) -> None:
        store = LineageStore(workdir)
        docs = spark.read.parquet(inputs["docs_dir"])
        polygons = spark.read.parquet(inputs["polys_dir"])

        pts = spatial_join.extract_geo_points(docs).withColumn(
            "cell_prefix", F.shiftright("cell_id", 8))
        pts = store.checkpoint(pts, "ingest", "cell_prefix")

        assigned = spatial_join.assign_documents(
            docs, polygons, points=pts).withColumn(
            "cell_prefix", F.shiftright("cell_id", 8))
        assigned = store.checkpoint(assigned, "assign", "cell_prefix")

        rollup = (assigned.groupBy("cell_id", "method")
                  .agg(F.count("*").alias("n_docs"))
                  .withColumn("cell_prefix", F.shiftright("cell_id", 8)))
        store.checkpoint(rollup, "rollup", "cell_prefix")

        cells = (assigned.filter(F.col("polygon_guid").isNotNull())
                 .groupBy("cell_id").agg(F.count("*").alias("n")))
        min_lon, min_lat, max_lon, max_lat = C.cell_bounds(F.col("cell_id"))
        pt = lambda a, b: F.format_string("%.9f %.9f", a, b)  # noqa: E731
        faces = cells.select(
            F.md5(F.col("cell_id").cast("string")).alias("face_guid"),
            F.concat_ws(";", pt(min_lon, max_lat), pt(max_lon, max_lat),
                        pt(max_lon, min_lat), pt(min_lon, min_lat),
                        pt(min_lon, max_lat)).alias("ring"),
            min_lon.alias("min_lon"), min_lat.alias("min_lat"),
            max_lon.alias("max_lon"), max_lat.alias("max_lat"))
        tiles = mvt.faces_to_mvt(faces, zoom=11).withColumn(
            "tile_prefix", F.col("tile_y"))
        store.checkpoint(tiles.select(
            "tile_z", "tile_x", "tile_y", "n_features",
            F.length("mvt").alias("mvt_bytes"), "tile_prefix"), "tiles",
            "tile_prefix")

    def observed(self, spark, inputs, workdir: str) -> dict:
        store = LineageStore(workdir)
        rows = _committed(store, "assign",
                          ["doc_id", "span_idx", "cell_id", "polygon_guid",
                           "method"])
        committed_tiles = {(x, y) for x, y in
                           _committed(store, "tiles", ["tile_x", "tile_y"])}
        # every assigned cell's z11 parent tile must be served
        parents = {(c % (1 << 14) >> 3, c // (1 << 14) >> 3)
                   for _, _, c, g, _ in rows if g is not None}
        out = {s: store.counters(s).get("n_rows") for s in self.stages[:3]}
        out["methods"] = _methods(rows)
        out["assign_digest"] = digest(rows)
        out["rollup_digest"] = digest(_committed(
            store, "rollup", ["cell_id", "method", "n_docs"]))
        out["tiles_cover_cells"] = parents <= committed_tiles
        return out

    def expected(self, inputs, seed: int) -> dict:
        rows = oracle.assignments(inputs["docs_pdf"], inputs["polys_pdf"])
        roll = oracle.rollup(rows)
        return {
            "ingest": len(rows), "assign": len(rows), "rollup": len(roll),
            "methods": _methods(rows),
            "assign_digest": digest(rows),
            "rollup_digest": digest(roll),
            "tiles_cover_cells": True,
        }

    def layer_counts(self, spark, inputs, workdir: str, tracer) -> dict:
        out = super().layer_counts(spark, inputs, workdir, tracer)
        store = LineageStore(workdir)
        pts = store.read("ingest")
        polygons = spark.read.parquet(inputs["polys_dir"])
        index = spatial_join.explode_polygon_cells(polygons)
        candidates = (pts.join(F.broadcast(index), "cell_id")
                      .filter((F.col("lon") >= F.col("min_lon"))
                              & (F.col("lon") <= F.col("max_lon"))
                              & (F.col("lat") >= F.col("min_lat"))
                              & (F.col("lat") <= F.col("max_lat")))).count()
        hits = spatial_join.candidate_join(pts, polygons).count()
        methods = dict(store.read("assign").groupBy("method").count().collect())
        orphans = methods.get("knn", 0) + methods.get("none", 0)
        out.update({
            "spatial_join.candidate_rows": candidates,
            "spatial_join.pip_hit_ratio": hits / candidates if candidates else 0.0,
            "knn.orphans": orphans,
            "knn.snap_ratio": methods.get("knn", 0) / orphans if orphans else 0.0,
        })
        return out


WORKLOADS = {
    "build_k4": Build(k=4),
    "assign_4k": Assign(n_docs=4000, n_polys=3000),
}

# the smoke sizes used by the benchmark's own tests
SMOKE = {
    "build_k4": Build(k=3),
    "assign_4k": Assign(n_docs=500, n_polys=300),
}
