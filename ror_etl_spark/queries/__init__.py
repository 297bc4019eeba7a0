"""Driver-contract query registry — import side effect populates
``ror_etl_spark.registry.QUERIES`` / ``ORACLES``.
"""

from __future__ import annotations

_LOADED = False


def load() -> None:
    global _LOADED
    if _LOADED:
        return
    from ror_etl_spark.queries import (  # noqa: F401
        aggregates,
        corpusops,
        dedup,
        engineops,
        graph,
        indexing,
        linkage,
        llmprep,
        misc,
        misc2,
        misc3,
        relational,
        sampling,
        scalars,
        scalars2,
        setops,
        sketches,
        stats,
        subqueries,
        temporal,
        temporal2,
        text,
        text_tf,
        tpch_correlated,
        tpch_full,
        tpch_more,
        tpch_semi,
        variant,
        vector,
        windows,
    )
    # Imported last: registration order follows import order, and
    # ordered_queries breaks priority ties by it.
    from ror_etl_spark.queries import (  # noqa: F401
        staged_r9,
        staged_r10,
        staged_r11,
        staged_r12,
    )

    _LOADED = True
