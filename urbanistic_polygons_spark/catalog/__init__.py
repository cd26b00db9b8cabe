"""Query catalog: every driver-checkable operator as (Spark query, DuckDB
oracle SQL) pairs — split into per-domain modules (r4 verdict item 5).

Determinism contract: every computed value in an oracle-checked query is
either an integer, a string, or a float produced by the IDENTICAL IEEE
expression tree in both engines — so the driver's order-insensitive value
hash matches bit-for-bit.  Money sums go through per-row integer cents
(``CAST(ROUND(x*100) AS BIGINT)``), hashes through md5-hex-to-int
(verified cross-engine), and geometry through an integer "micro-coordinate"
space (10,000 micro-units = one z14 cell, mirroring the reference's 16384
per-tile quantization grid, Tiles/TileStatic.cs:57-73).

The real float lon/lat Mercator path is exercised by ``entry()`` and the
pytest oracle suite; the catalog's micro-space queries verify the engine's
join/agg/window/partitioning logic exactly.

Layout (registration ORDER — the driver-report contract — lives solely
in ``registry.build_catalog``):

- ``_shared``    dialect shim, TABLES/register_views, micro-space CTEs
- ``spatial``    PIP / bbox / knn / halo / pyramid / salted + HDR aggs
- ``textsim``    fingerprints, set-similarity, embedding ANN builders
- ``spans``      interleaved spans synthesis (the input_hint shape)
- ``relational`` joins, packing/mixing/ordering, quality, graph algos
- ``media``      binary media byte-parse queries
- ``faces``      face extraction / landuse / tile serve / merge
- ``textsql``    DuckDB oracle SQL for module-backed text queries
- ``extras``     chunking / BPE stats / novelty / fuzzy / HLL / CMS / IDW
- ``lakehouse``  CDC MERGE/upsert
- ``clustering`` DBSCAN, SemDeDup
- ``registry``   the ordered ``build_catalog()`` assembler
"""

from ._shared import TABLES, register_views  # noqa: F401
from .registry import build_catalog  # noqa: F401
