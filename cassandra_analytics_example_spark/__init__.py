"""cassandra_analytics_example_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference application ``smiklosovic/cassandra-analytics-example`` (bulk
Cassandra ETL through Spark: generate → bulk-write → snapshot-read → copy →
count; SSTable→Parquet re-materialization), re-expressed Spark-first, plus the
relational analytics / streaming / LLM-data-pipeline surface its north star
demands (SURVEY.md §2, §7).

Design rules (100 TB discipline):

* DataFrame/SQL everywhere — declare the logical plan, let Catalyst/AQE pick
  physical strategy. No driver-side ``collect()`` loops in operators.
* Broadcast small dimensions, hash-partition big joins on their keys, keep
  aggregation partial (map-side combine), push filters/projections to the
  parquet scan.
* Python only at Arrow boundaries (pandas_udf / mapInPandas), never per-row.
"""

# first: every process that imports the package gets lazy zipimport
# invalidation before any Python-worker task re-reads the zip indexes
from cassandra_analytics_example_spark import _zipcache  # noqa: F401
from cassandra_analytics_example_spark.session import get_spark, stop_spark
from cassandra_analytics_example_spark.config import JobConfiguration

__all__ = ["get_spark", "stop_spark", "JobConfiguration"]

__version__ = "0.1.0"
