"""Single-slice local DataFrames for small driver-built tables.

``spark.createDataFrame(list)`` splits the list into
``defaultParallelism`` slices — on local[32] that schedules 32 Python
tasks (one worker round-trip each) to ship a handful of rows, ~1 s of
pure scheduling per materialization, and ~2-3 s when the relation is
the build side of a broadcast join. ``.coalesce(1)`` after the fact is
WORSE: the single task pays the 32 round-trips sequentially (measured
5.6 s for a 30-row list). Parallelizing into ONE slice up front costs
one round-trip (measured 0.35 s collect / 0.67 s broadcast-join for the
same list).

At cluster scale nothing changes: these tables are bounded,
driver-built model/metadata rows (centroids, query sets, quantile
specs) whose correct physical shape is one partition feeding a
broadcast."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a single-slice relation."""
    rows = list(rows)
    if not rows:
        # parallelize([], 1) yields an empty RDD whose schema inference
        # path differs; the plain form handles the empty case fine (no
        # tasks to schedule)
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
