from mapreduce__spark.plans.registry import (
    REGISTRY,
    Query,
    driver_window,
    get_oracle_sql,
    get_queries,
    green_rows,
    ordered_names,
)

# Importing the tier modules populates REGISTRY via the @query decorator;
# their import order is the registration order ordered_names() keeps.
from mapreduce__spark.plans import tier0  # noqa: F401
from mapreduce__spark.plans import tier1  # noqa: F401
from mapreduce__spark.plans import tier2_shared  # noqa: F401
from mapreduce__spark.plans import tier2_text  # noqa: F401
from mapreduce__spark.plans import tier2_pipeline  # noqa: F401
from mapreduce__spark.plans import tier2_dedup  # noqa: F401
from mapreduce__spark.plans import tier2_embedding  # noqa: F401
from mapreduce__spark.plans import tier2_multimodal  # noqa: F401
from mapreduce__spark.plans import tier2_sources  # noqa: F401
from mapreduce__spark.plans import tier2_events  # noqa: F401
from mapreduce__spark.plans import tier2_stats  # noqa: F401

__all__ = [
    "REGISTRY",
    "Query",
    "driver_window",
    "get_oracle_sql",
    "get_queries",
    "green_rows",
    "ordered_names",
]
