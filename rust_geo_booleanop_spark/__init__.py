"""PySpark-native spatial-join + tiling engine.

Built from scratch around the Martinez-Rueda-Feito sweep-line boolean
algebra (reference: 21re/rust-geo-booleanop), re-expressed Spark-first:
DataFrame/SQL relational shell, Arrow-vectorized pandas UDF geometry
kernel, explicit cell-grid partitioning for spatial joins at scale.
"""

from rust_geo_booleanop_spark import _zipimport_guard

# Spark workers import this package when they unpickle any of its UDFs, so
# the guard covers every later task of a reused Python worker.
_zipimport_guard.install()

__version__ = "0.1.0"
