"""pgsql2osm_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the semantics of feludwig/pgsql2osm (boundary selection,
membership closure, tag merge, point lookup, streaming serialization — see
SURVEY.md) as idiomatic Spark DataFrame operators over image+caption tables:
H3/S2-style cell encoding, broadcast point-in-polygon joins, kNN via cell-ring
expansion, raster<->vector tile joins, adaptive skew splitting, and checkpoint
manifests.
"""

__version__ = "0.1.0"
