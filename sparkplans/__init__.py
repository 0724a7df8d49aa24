"""sparkplans — a PySpark-native optimal-plans analytics engine.

A brand-new engine with the query and data-processing capabilities of
``NGA-TRAN/datafusion-optimal-plans`` (see ``SURVEY.md``), built
Spark-first: the DataFrame/SQL API declares logical plans, Catalyst +
AQE pick physical strategies, and a thin order-aware layer on top
tracks declared file sort orders (the reference's ``WITH ORDER``
feature, ``docs/2_cli_create_tables.md:17-23``) to elide redundant
sorts and shuffles that Catalyst cannot know about.

Public surface::

    from sparkplans import Engine, EngineOptions
    eng = Engine()                       # builds/configures a SparkSession
    eng.create_external_table("dim", path, format="parquet",
                              with_order=["env", "service", "host"])
    df = eng.table("dim").order_by("env", "service").df   # sort elided
    eng.sql("SELECT ...")                # plain Spark SQL over registered tables
    eng.explain(df, mode="analyze")      # plan inspection surface
"""

import importlib

# Public name -> defining submodule, imported on first access (PEP 562):
# ``python -m sparkplans.worker_daemon`` runs this file first and must
# choose which pyspark to load before anything imports it.  ``plans``
# is the submodule itself.
_EXPORTS = {
    "Engine": "engine",
    "OrderedFrame": "engine",
    "EngineOptions": "session",
    "build_session": "session",
    "configure_session": "session",
    "Catalog": "catalog",
    "TableSpec": "catalog",
    "SortKey": "ordering",
    "normalize_sort_keys": "ordering",
    "ordering_satisfies": "ordering",
    "plans": "plans",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    module = importlib.import_module(f"{__name__}.{_EXPORTS[name]}")
    return module if name == _EXPORTS[name] else getattr(module, name)
