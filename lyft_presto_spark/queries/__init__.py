"""Query inventory: the engine's declared operator surface.

Every module in this package registers named queries into
``registry.REGISTRY``. ``lyft_presto_spark.queries.all_queries()`` imports all
modules and returns the full inventory in registration order. This is what
``__spark_entry__.py`` exposes, what perfbench looks queries up in by name,
and what ``tests/test_queries_oracle.py`` checks, query by query, against
its DuckDB oracle.
"""

from __future__ import annotations

from .registry import REGISTRY, Query, query


def all_queries() -> dict[str, Query]:
    # Import registers; keep the list explicit so a broken module is loud.
    from . import tpch  # noqa: F401
    from . import tpcds_shapes  # noqa: F401
    from . import relational  # noqa: F401
    from . import functions_sql  # noqa: F401
    from . import events  # noqa: F401
    from . import text_pipeline  # noqa: F401
    from . import similarity_queries  # noqa: F401
    from . import dedup_queries  # noqa: F401
    from . import multimodal_queries  # noqa: F401
    from . import geo_queries  # noqa: F401
    from . import ml_queries  # noqa: F401
    from . import connector_queries  # noqa: F401

    return dict(REGISTRY)


__all__ = ["REGISTRY", "Query", "query", "all_queries"]
