"""Set operators (SURVEY §2.9).

U1 — the reference concatenates per-tribunal pandas frames positionally
(``pd.concat``, ``/root/reference/src/jurimetria_pipeline.py:233``).  The
distributed form is a by-name union tolerant of schema drift; an empty input
list yields an empty DataFrame of the given schema.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from jurimetria_etl_spark.session import local_frame


def union_all_by_name(
    dfs: list[DataFrame],
    spark: SparkSession | None = None,
    schema: StructType | None = None,
    allow_missing_columns: bool = True,
) -> DataFrame:
    """Union-all by column name.  ``unionByName`` keeps the operation a
    zero-shuffle narrow op; ``allowMissingColumns`` fills drifted columns
    with NULL (the pandas-concat behavior)."""
    if not dfs:
        if spark is None or schema is None:
            raise ValueError("empty input requires spark + schema for the empty frame")
        return local_frame(spark, [], schema)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns), dfs
    )
