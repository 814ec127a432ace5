"""Named-table catalog replacing the reference's R global environment.

The reference passes data between scripts through implicit globals
(``gene_effect`` set at ``scripts/import/temp-import-all-web-files.R:7`` and
consumed at ``scripts/tidy/temp-tidy-all-web-files.R:12`` — SURVEY.md §1.1).
The engine makes that coupling explicit: a catalog of named DataFrames, each
also registered as a Spark temp view so SQL and DataFrame code share one
namespace.

Serving path: ``put(cache=True)`` pins a table on the driver when it is
small — when its optimized-plan ``sizeInBytes`` is at or under
``spark.sql.autoBroadcastJoinThreshold``, the size Spark already trusts
to ship whole to every executor. The rows are collected once inside the
JVM and re-registered as a ``LocalRelation``; Catalyst's
``ConvertToLocalRelation`` then evaluates filters, projections and
limits over it on the driver, so a point read launches no Spark job and
pays only planning. Larger tables keep ``df.cache()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Catalog", "load_testdata"]

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


class Catalog:
    """Dict-like registry of named DataFrames mirrored as temp views."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}

    def put(self, name: str, df: DataFrame, cache: bool = False) -> DataFrame:
        """Register ``df`` as ``name`` (replacing any earlier view). With
        ``cache=True`` a table within the broadcast threshold is pinned
        on the driver; a larger one is ``df.cache()``-d. Returns the
        registered frame."""
        if cache:
            df = self._pin(df) if self._small(df) else df.cache()
        df.createOrReplaceTempView(name)
        self._tables[name] = df
        return df

    def _small(self, df: DataFrame) -> bool:
        conf = self.spark._jsparkSession.sessionState().conf()
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(str(size)) <= conf.autoBroadcastJoinThreshold()

    def _pin(self, df: DataFrame) -> DataFrame:
        """Collect ``df`` in the JVM and rebuild it as a LocalRelation."""
        jdf = df._jdf
        local = self.spark._jsparkSession.createDataFrame(
            jdf.collectAsList(), jdf.schema()
        )
        return DataFrame(local, self.spark)

    def get(self, name: str) -> DataFrame:
        return self._tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def names(self) -> list[str]:
        return sorted(self._tables)


def load_testdata(spark: SparkSession, sf_dir: str) -> Catalog:
    """Register every driver parquet table under its bare name."""
    cat = Catalog(spark)
    for t in TESTDATA_TABLES:
        cat.put(t, spark.read.parquet(f"{sf_dir}/{t}.parquet"))
    return cat
