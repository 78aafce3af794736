"""Driver-side geometry objects (regions, coverings, GeoJSON bridge).

Object code here runs per polygon / per tile set on the driver; results
are serialized into broadcast structures that the SQL tag join
consumes per document.
"""
