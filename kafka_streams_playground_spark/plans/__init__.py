"""Query plans: the reference's five topologies re-expressed as DataFrame
plans, extra relational coverage, and the north-star LLM-pipeline queries.
Importing this package populates the registry."""

from kafka_streams_playground_spark.plans.registry import DRIVER_PRIORITY, REGISTRY, QuerySpec, query

# Import for side effects: each module registers its queries. The batch
# modules come first; the streaming twins come last, because each twin reads
# its batch oracle from REGISTRY when it is decorated.
from kafka_streams_playground_spark.plans import topologies  # noqa: F401
from kafka_streams_playground_spark.plans import relational  # noqa: F401
from kafka_streams_playground_spark.plans import temporal  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_dedup  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_similarity  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_text  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_multimodal  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_pipeline  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_curation  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_scoring  # noqa: F401
from kafka_streams_playground_spark.plans import tpch_completion  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_stats  # noqa: F401
from kafka_streams_playground_spark.plans import northstar_retrieval  # noqa: F401
from kafka_streams_playground_spark.streaming import queries as _streaming_queries  # noqa: F401

__all__ = ["REGISTRY", "QuerySpec", "query", "DRIVER_PRIORITY"]
