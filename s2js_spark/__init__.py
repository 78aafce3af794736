"""s2js_spark — a PySpark-native S2 spatial-join + tiling engine.

Built from scratch against the semantics of the reference S2 geometry
library (missinglink/s2js, read-only snapshot at /root/reference).

Layers
------
- ``s2js_spark.geometry``  the scalar S2 port: CellID arithmetic and
  the Hilbert lookup tables (``cellid_scalar``) and geometry objects
  (Cap, Rect, Loop, Polygon, CellUnion, RegionCoverer, GeoJSON
  bridge). Runs on the driver to build broadcast tile structures,
  never per document, and is the reference the tests compare against.
- ``s2js_spark.spark``     the Spark surface: cell arithmetic and point
  geometry as SQL expressions (``sqlkernels``) and registered SQL
  functions,
  deterministic pages-table synthesis, the url-bucketed pages layout
  and its one resumable writer (``storage``), the broadcast tag join,
  kNN and buffer joins, dedup/text/similarity pipeline operators.
"""

__version__ = "0.1.0"
