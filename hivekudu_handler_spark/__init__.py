"""hivekudu_handler_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference Hive-on-Kudu storage handler (BimalTandel/HiveKudu-Handler), built
Spark-first: the DataFrame/SQL API declares logical plans and Catalyst +
Tungsten pick the physical strategy.  The reference implements a storage
layer (scan splits, record reader/writer, row SerDe, type bridge, metastore
DDL hooks) and delegates all query processing to Hive; our equivalent of
that contract is:

* a managed keyed-table layer (``sources.table_store``) replicating the
  reference's DDL/PK/nullability/duplicate-ignore semantics
  (reference ``KuduStorageHandler.java:223-310``,
  ``HiveKuduTableOutputFormat.java:96-106``);
* the full relational query surface (``operators/``) the handler exposed
  through Hive SQL, expressed as idiomatic DataFrame pipelines;
* the strict 10-type lattice of the reference's type bridge
  (``HiveKuduBridgeUtils.java:36-68``) in ``typesys``;
* scale-path extensions for LLM data pipelines (``pipeline/``): dedup,
  similarity search, text analysis, multimodal columns;
* a thin Structured Streaming surface (``streaming/``).

All query keys are registered in ``registry.QUERIES`` and surfaced through
``__spark_entry__.py`` for differential (DuckDB-oracle) verification.

Engine decisions that change cost (a driver-side point fetch and the
tablet it read, a pin persisted, reused or released) are logged at DEBUG
under the ``hivekudu_handler_spark`` logger, which is silent unless the
application configures it.
"""

import logging

logging.getLogger(__name__).addHandler(logging.NullHandler())

from hivekudu_handler_spark.registry import QUERIES, query  # noqa: F401
from hivekudu_handler_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
