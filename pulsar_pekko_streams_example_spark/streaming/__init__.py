from pulsar_pekko_streams_example_spark.streaming.processor import (
    apply_processor,
    simulated_processor,
)
from pulsar_pekko_streams_example_spark.streaming.metrics import (
    MetricsListener,
    with_engine_metrics,
)
from pulsar_pekko_streams_example_spark.streaming.ordered_state import ordered_per_key
from pulsar_pekko_streams_example_spark.streaming.retry import RetryRouter
from pulsar_pekko_streams_example_spark.streaming.workload import (
    Workload,
    WorkloadManager,
    WorkloadReport,
)

__all__ = [
    "MetricsListener",
    "with_engine_metrics",
    "apply_processor",
    "simulated_processor",
    "RetryRouter",
    "ordered_per_key",
    "Workload",
    "WorkloadManager",
    "WorkloadReport",
]
