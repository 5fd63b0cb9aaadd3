"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL system (alexwoolford/neo4j-blue-green-arrow-etl).

Brand-new Spark-first design: DataFrame/SQL logical plans optimized by
Catalyst, a driver-side micro-batch orchestrator over batch Spark jobs,
Arrow-batched Python only where built-ins can't express the semantics.

Layout:
  session     SparkSession factory tuned for local[N] and cluster scale
  config      YAML config loader with ${ENV}/${ENV:default} interpolation
  fixtures    deterministic derived tables (graph + control-plane) shared
              by the Spark queries and the DuckDB oracles
  sources/    snapshot reader (positional property-graph contract) and
              snapshot discovery
  operators/  relational query surface, dedup, similarity, text analysis,
              multimodal plumbing
  functions/  scalar helpers mirroring the reference's function surface
  plans/      deployment catalog + blue/green alias manager
  streaming/  the blue/green orchestrator loop, plus the ingest
              pipelines behind registry queries q_st6-q_st9
  sinks/      two-phase graph sink interface and its Arrow Flight (Neo4j
              GDS) adapter, plus an in-process Flight server for tests
"""

__version__ = "0.1.0"

# The driver-generated warehouse tables (TESTDATA.md) — the ONE
# canonical list shared by the sql CLI, the oracle gate, and the tests.
WAREHOUSE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

__all__ = [
    "WAREHOUSE_TABLES",
    "DeploymentCatalog",
    "Orchestrator",
    "QuerySpec",
    "REGISTRY",
    "SnapshotRef",
    "__version__",
    "discover_snapshots",
    "get_spark",
    "read_snapshot",
]


def __getattr__(name):
    """Lazy public API: top-level names resolve on first use so that
    ``import neo4j_blue_green_arrow_etl_spark`` stays cheap (no pyspark
    import) for tools that only want ``__version__``."""
    if name in ("REGISTRY", "QuerySpec"):
        from .operators import REGISTRY, QuerySpec

        return {"REGISTRY": REGISTRY, "QuerySpec": QuerySpec}[name]
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    if name == "DeploymentCatalog":
        from .plans.catalog import DeploymentCatalog

        return DeploymentCatalog
    if name == "Orchestrator":
        from .streaming.orchestrator import Orchestrator

        return Orchestrator
    if name in ("SnapshotRef", "discover_snapshots", "read_snapshot"):
        from .sources import snapshot as _s

        return getattr(_s, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
