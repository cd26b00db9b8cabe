"""Single-process reference for the assign workload's outputs.

Recomputes, from the same generated inputs, what the flagship job must
commit: one assignment per geo span (smallest containing polygon_guid by
ray-cast, else the nearest polygon centroid within three cell rings, else
none) and the per-cell rollup.  It shares only the NumPy geometry kernels
with the program, never its Spark plans.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np

from urbanistic_polygons_spark import kernels

KNN_RINGS = 3


def _parse_ring(ring: str) -> tuple[np.ndarray, np.ndarray]:
    pts = np.array([p.split() for p in ring.split(";")], dtype=np.float64)
    return pts[:-1, 0], pts[:-1, 1]  # drop the closing duplicate


def assignments(docs_pdf, polys_pdf) -> list[tuple]:
    """Sorted (doc_id, span_idx, cell_id, polygon_guid, method) rows."""
    keys, lons, lats = [], [], []
    for doc_id, spans in zip(docs_pdf["doc_id"], docs_pdf["spans"]):
        for idx, (kind, text, _media, _off) in enumerate(spans):
            if kind == "geo":
                lon, lat = map(float, text.split(","))
                keys.append((doc_id, idx))
                lons.append(lon)
                lats.append(lat)
    lon = np.array(lons, dtype=np.float64)
    lat = np.array(lats, dtype=np.float64)
    tx, ty = kernels.world_to_tile(lon, lat)
    cells = kernels.tile_local_id(tx, ty).astype(np.int64)

    guids = list(polys_pdf["polygon_guid"])
    rings = [_parse_ring(r) for r in polys_pdf["ring"]]
    bbox = polys_pdf[["min_lon", "min_lat", "max_lon", "max_lat"]].to_numpy()
    # centroid as the sequential mean of the ring vertices
    centroids = [(sum(x.tolist()) / len(x), sum(y.tolist()) / len(y))
                 for x, y in rings]
    by_cell: dict[int, list[int]] = defaultdict(list)
    for i, cs in enumerate(polys_pdf["cells"]):
        for c in cs:
            by_cell[int(c)].append(i)

    # PIP: bbox-passing (point, polygon) candidates, tested per polygon
    cand: dict[int, list[int]] = defaultdict(list)
    for p, c in enumerate(cells.tolist()):
        for i in by_cell.get(c, ()):
            b = bbox[i]
            if b[0] <= lon[p] <= b[2] and b[1] <= lat[p] <= b[3]:
                cand[i].append(p)
    best: dict[int, str] = {}
    for i, pts in cand.items():
        idx = np.array(pts)
        inside = kernels.points_in_polygon(lon[idx], lat[idx], *rings[i])
        for p in idx[inside].tolist():
            if p not in best or guids[i] < best[p]:
                best[p] = guids[i]

    out = []
    for p, (doc_id, span_idx) in enumerate(keys):
        cell = int(cells[p])
        if p in best:
            out.append((doc_id, span_idx, cell, best[p], "pip"))
            continue
        found = None
        for ring in range(1, KNN_RINGS + 1):
            halo = kernels.neighbor_cells(np.array([cell]), ring=ring)[0]
            polys = {i for h in halo.tolist() for i in by_cell.get(h, ())}
            if polys:
                found = min(polys, key=lambda i: (round(float(
                    kernels.distance_m(lon[p], lat[p], *centroids[i])), 6),
                    guids[i]))
                break
        if found is None:
            out.append((doc_id, span_idx, cell, None, "none"))
        else:
            out.append((doc_id, span_idx, cell, guids[found], "knn"))
    return sorted(out, key=lambda r: (r[0], r[1]))


def rollup(rows: list[tuple]) -> list[tuple]:
    """Sorted (cell_id, method, n_docs) rows of the per-cell rollup."""
    counts = Counter((r[2], r[4]) for r in rows)
    return sorted((c, m, n) for (c, m), n in counts.items())
