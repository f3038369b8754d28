"""data_ingestion_tool_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the capabilities of the
reference ``thekingofcool/data_ingestion_tool`` (a Box→Delta ingestion
tool + Delta→Excel export tool whose query surface is delegated to
``spark.sql``), extended with the large-scale training-data-pipeline
operators (deduplication, similarity search, multimodal columns, text
analysis) and designed for 100 TB scale:

- declarative DataFrame/SQL plans so Catalyst does pushdown, pruning,
  join planning, and whole-stage codegen;
- validation compiled to vectorized Column expressions (the reference
  iterates pandas rows on the driver — box_ingest.py:85-122);
- single-commit batched table appends (the reference commits once per
  file — box_ingest.py:124-129);
- broadcast hints for dimension joins, AQE on by default, salting and
  two-phase patterns for skew-prone wide aggregations.

Subpackages
-----------
``sources``    file-format readers (csv/json/parquet/excel/zip), file
               listing + regex/latest selection, connector interface
``sinks``      managed-table appends (Delta if available, else parquet),
               error/quarantine table, audit log, Excel export
``operators``  the query library: joins, aggregations, windows, set ops,
               sort/limit, scalar functions, dedup, similarity, text
``functions``  shared Column-expression helpers
``plans``      plan-inspection utilities (.explain auditing)
"""

import sys

from pyspark import cloudpickle

from data_ingestion_tool_spark.session import get_spark, stop_spark

# Python workers need not import this package: executor kernels that
# reference module-level functions (``partial_topk``, ``bpe_learn``,
# the media codecs) ship by value, like the closures around them. By
# reference, a driver that has the package on ``sys.path`` but runs
# outside the repo fails on the workers with ModuleNotFoundError,
# whoever built the session.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "__version__"]
