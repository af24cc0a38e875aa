"""faust_spark — a PySpark-native analytics/stream-processing engine.

A brand-new engine with the query and data-processing capabilities of
robinhood/faust (Kafka-Streams-style Python stream processing), re-expressed
Spark-first: declarative DataFrame / Structured Streaming plans optimized by
Catalyst, instead of per-event asyncio loops.

Public surface (see SURVEY.md for the operator-by-operator mapping):

- :class:`faust_spark.app.App` — application object: ``topic()``, ``stream()``,
  ``Table()``, ``GlobalTable()``, ``SetTable()``, ``@agent``.
- :mod:`faust_spark.models` — ``Record`` → ``StructType`` schema compiler.
- :mod:`faust_spark.windows` — Tumbling/Hopping/Sliding window specs.
- :mod:`faust_spark.operators` — relational + LLM-data-pipeline operators
  (dedup, similarity search, text analysis, multimodal plumbing).
- :mod:`faust_spark.streaming` — stateful streaming helpers
  (native keyed counters, ``applyInPandasWithState`` for arbitrary state,
  sources, sinks).
"""

from faust_spark.session import get_spark  # noqa: F401
from faust_spark.models import (  # noqa: F401
    Field,
    Record,
    ValidationError,
)
from faust_spark.tags import Personal, Secret, Sensitive  # noqa: F401
from faust_spark.windows import (  # noqa: F401
    TumblingWindow,
    HoppingWindow,
    SlidingWindow,
)
from faust_spark.app import App  # noqa: F401
from faust_spark.auth import (  # noqa: F401
    GSSAPICredentials,
    SASLCredentials,
    SSLCredentials,
)

__version__ = "0.1.0"

__all__ = [
    "App",
    "SASLCredentials",
    "GSSAPICredentials",
    "SSLCredentials",
    "Field",
    "Record",
    "ValidationError",
    "Secret",
    "Sensitive",
    "Personal",
    "TumblingWindow",
    "HoppingWindow",
    "SlidingWindow",
    "get_spark",
    "__version__",
]
