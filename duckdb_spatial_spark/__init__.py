"""duckdb_spatial_spark — a PySpark-native spatial analytics engine.

A from-scratch reimplementation of the query and data-processing
capabilities of duckdb-spatial (reference surveyed in SURVEY.md), built
Spark-first: GEOMETRY = ISO WKB in BinaryType + materialized BOX_2D struct
columns, NumPy kernels inside Arrow-batched pandas UDFs for the GEOS tier,
pure Column expressions for every point/bbox-shaped hot path, and
grid-partitioned / broadcast spatial joins replacing the reference's
optimizer rewrites + R-tree (SURVEY §4).
"""

__version__ = "0.1.0"

from pyspark import SparkFiles as _SparkFiles

if _SparkFiles._is_running_on_worker:
    # a Python worker unpickling one of the package's UDFs: stop every
    # later task of this process from re-reading pyspark.zip (zipguard)
    from . import zipguard as _zipguard

    _zipguard.install()

from . import functions  # noqa: F401
from .functions import register_sql_functions  # noqa: F401
