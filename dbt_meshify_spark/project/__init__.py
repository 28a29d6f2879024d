"""Project plane: load a dbt-style project, compile its jinja SQL, and run
it on Spark (SURVEY.md §3.1 stages 2-6, restated Spark-native).

- ``loader``: project dir -> Manifest (models, sources, seeds, tests, macros,
  exposures, groups, semantic models) with depends_on edges.
- ``compiler``: jinja render with ref/source/var/env_var/config/
  is_incremental/this + project macros (real jinja2 macros, as in dbt).
- ``runner``: topo-order materialization (view/table/incremental/ephemeral/
  seed), contract + access enforcement, incremental upsert. It loads
  pyspark, so it is imported from ``project.runner``, not re-exported here.
- ``testing``: generic data tests compiled to zero-row-pass Spark SQL.
"""

from dbt_meshify_spark.project.loader import SparkProject

__all__ = ["SparkProject"]
