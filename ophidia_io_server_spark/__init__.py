"""PySpark-native analytics engine with the query and data-processing
capabilities of OphidiaBigData/ophidia-io-server.

The reference (surveyed in SURVEY.md) is a single-node in-memory array store
whose tables ("fragments") are ``(id_dim BIGINT, measure ARRAY<numeric>)``
record sets queried through a ``key=value;`` submission dialect with
MySQL-UDF-style array primitives.  This package re-expresses that surface
Spark-first:

- fragments are DataFrames with an ``ArrayType`` measure column,
- the query dialect compiles to declarative DataFrame plans (Catalyst
  optimizes; nothing is interpreted row-at-a-time),
- the 88 array primitives become higher-order-array ``Column`` expressions
  where possible and Arrow-batched pandas UDFs where not,
- beyond-reference additions (Structured Streaming ingest, dedup/similarity/
  text-analysis pipeline operators) live in ``streaming/`` and ``pipeline/``.
"""

__version__ = "0.1.0"

from ophidia_io_server_spark import _zipimport
from ophidia_io_server_spark.session import get_spark  # noqa: F401

# Python workers import this package when they unpickle engine code; on
# Python < 3.12 this stops them re-reading every zip archive on each task.
_zipimport.install()
