"""Declared-query modules. Importing this package populates the registry.

Each module registers its queries (``registry.dq``) when it is first
imported, so ``QUERIES`` and ``ORACLES`` hold them in import order:
definition order within a module, modules in the order below except
where one module imports another first. Consumers that need an order
independent of that sort by name.
"""

from vcf2db_spark.queries import (  # noqa: F401
    analytics,
    etl,
    extensions,
    gemini_dq,
    graph,
    lakehouse_dq,
    mlops,
    pipeline_ext,
    relational,
    streaming_dq,
    tpch,
    training,
    vectors,
    warehouse,
    windows,
)
from vcf2db_spark.registry import ORACLES, QUERIES  # noqa: F401
