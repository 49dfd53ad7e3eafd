"""pandasqlite_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of IBM/pandasqlite, rebuilt Spark-first.

The reference (``/root/reference/pandasqlite/pandasqlite.py``) is a
Text-to-SQL orchestration layer over SQLite: it ingests pandas DataFrames
into SQLite, enriches them with LLM-generated metadata, generates SQL from
natural language, and executes it via ``pd.read_sql``.  This package
re-expresses that pipeline natively on a SparkSession:

- :mod:`pandasqlite_spark.session`   — SparkSession factory with parity configs
- :mod:`pandasqlite_spark.core`      — ingest / metadata / text2sql / dialect
- :mod:`pandasqlite_spark.operators` — the delegated SQL operator surface
  (SURVEY.md §2.B), expressed as DataFrame-API builders
- :mod:`pandasqlite_spark.functions` — LLM-data-pipeline extensions: dedup,
  similarity search, text analysis, multimodal plumbing (SURVEY.md §2.D)
- :mod:`pandasqlite_spark.streaming` — Structured Streaming twins of the
  batch event-window operators

Everything here derives from public knowledge only: the Apache Spark /
PySpark API, the Apache-2.0 reference repo, and published papers.
"""

import sys

from pyspark import cloudpickle

# Spark pickles each function or class it ships to Python workers (UDF
# bodies, mapInPandas/mapInArrow kernels, UDTFs, stateful processors,
# data sources).  By value, the pickled command carries the engine code
# itself, so workers never import this package: any session, any working
# directory, local or cluster mode.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from pandasqlite_spark.session import get_spark  # noqa: E402
from pandasqlite_spark.core.ingest import ingest  # noqa: E402
from pandasqlite_spark.core.text2sql import text2sql  # noqa: E402
from pandasqlite_spark.core.llm import FakeLLM, ReplayLLM, sanity_check  # noqa: E402

__all__ = ["get_spark", "ingest", "text2sql", "FakeLLM", "ReplayLLM", "sanity_check"]

__version__ = "0.1.0"
