"""PySpark-native analytics/connector engine with the capabilities of
aliyun/aliyun-maxcompute-data-collectors, re-expressed Spark-first.

The reference repo implements the *storage/connector half* of a query engine
(catalogs, schema & type systems, partition pruning, pushdown, split planning,
vectorized readers, transactional writers, bucketed-table shuffle with a
custom hash, streaming/CDC sinks, JDBC bulk import/export).  This package
provides the same capability surface on top of Spark DataFrame/SQL/Catalyst/
Structured Streaming, plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Layout:
    session     - tuned SparkSession factory (AQE, Arrow, shuffle sizing)
    manifest_store - Spark-free snapshot-table metadata (manifests, commit)
    types       - ODPS <-> Spark type system (SURVEY.md section 1.2)
    catalog     - project.schema.table warehouse over parquet (section 1.1, 2.13)
    operators/  - hashing (OdpsDefaultHasher parity), bucketing, merge/CDC,
                  lookup join, dedup, similarity, text analysis, multimodal
    functions/  - MaxCompute dialect scalar surface (section 2.10), %{col} routing
    sources/    - JDBC parallel import splitters (S13), delimited/regex/JSON ingest (P13)
    sinks/      - partitioned/bucketed writers, dynamic-partition limit, JDBC export (W12)
    streaming/  - checkpointed sinks, time partition assigner, CDC apply (section 2.11)
    plans/      - plan introspection: pushdown assertions, full-scan guard
"""

__version__ = "0.1.0"

# Spark-backed names resolve on first use, so the Spark-free submodules
# (manifest_store) import without pyspark installed
_LAZY = {"BucketSpec": "catalog", "OdpsCatalog": "catalog",
         "ensure_parallelism": "session", "get_spark": "session",
         "load_tables": "session"}


def __getattr__(name):
    mod = _LAZY.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib
    return getattr(importlib.import_module(f"{__name__}.{mod}"), name)


def make_engine(warehouse: str, **kw):
    """Shortcut: build the Engine facade.  (Named make_engine, not engine -
    a function named like the submodule would be rebound to the module by
    Python's import machinery on first use.)"""
    from aliyun_maxcompute_data_collectors_spark.engine import Engine
    return Engine(warehouse, **kw)
