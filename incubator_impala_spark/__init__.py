"""incubator_impala_spark — a PySpark-native analytics engine.

A brand-new engine that re-expresses the query semantics and capability
surface of Apache Impala (reference: timarmstrong/incubator-impala) on
Spark SQL / DataFrame / Catalyst, plus net-new large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing, event-time windows).

Design stance (see SURVEY.md):
- declarative DataFrame/SQL plans; Catalyst + Tungsten pick physical
  strategy (what the reference's planner + C++ backend did by hand)
- built-in `pyspark.sql.functions` in the hot path; Arrow-batched
  pandas UDFs only where built-ins can't express the semantics
- partitioning/broadcast/AQE tuned for a 1000-executor, 100 TB target
  even though tests run on local[32]
"""

from incubator_impala_spark.engine import Engine
from incubator_impala_spark.session import get_spark, configure_session

__all__ = ["Engine", "get_spark", "configure_session"]
__version__ = "0.1.0"
