"""Driver-facing query modules. Each module registers its queries with
`dataengineeringproject_spark.registry` at import time."""

from __future__ import annotations


def load() -> None:
    """Import every query module (a no-op after the first call)."""
    from dataengineeringproject_spark.queries import (  # noqa: F401
        advanced,
        curation,
        graph_q,
        llm_text,
        llm_vectors,
        multimodal_q,
        reference_ops,
        relational,
        sources_q,
        sql_surface,
        streaming_q,
        tpch_extra,
        windows_q,
    )
