"""nsq2kinesis_spark — a PySpark-native analytics engine.

A ground-up rebuild of the query / data-processing capabilities of the
reference stream processor (daroot/nsq2kinesis, surveyed in SURVEY.md) as an
idiomatic PySpark engine:

- batch analytics surface (SURVEY.md §2B) as composable DataFrame builders,
  each with a DuckDB-oracle SQL twin (``nsq2kinesis_spark.registry``);
- the reference's streaming semantics (dedup, oversize filter, partition-key
  projection, KPL record packing, Kinesis-shaped sink, NSQ-shaped source)
  re-expressed on Structured Streaming (``nsq2kinesis_spark.streaming``);
- LLM-data-pipeline operators (near-dup detection, vector similarity search,
  text analysis, multimodal column plumbing) designed for 100 TB scale.

Everything is DataFrame/SQL-first: Catalyst handles pushdown, pruning, join
selection and codegen; Python only appears at the edges (sink packing, a few
Pandas UDFs where Spark lacks the primitive).
"""

__version__ = "0.1.0"

# Every DataSource, closure and class this package hands to Spark is
# unpickled in another Python process: the planner, the streaming-source
# runner or an executor worker. None of them can be relied on to import the
# package: a session's JVM may start before the package is importable, and
# the streaming-source runner never receives the files a session ships. So
# the whole package, submodules included, is pickled by value, and each
# pickle carries its own code. Without pyspark the package still imports
# (the KPL codec is pure Python).
import sys as _sys

try:
    import pyspark.cloudpickle as _cloudpickle
except ImportError:
    pass
else:
    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
