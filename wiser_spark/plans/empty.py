"""Empty result frames that cost no Spark job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """An empty DataFrame with the DDL schema ``ddl``.

    ``spark.createDataFrame([], ddl)`` is backed by a Python RDD, so
    collecting it launches a job (about 0.4 s at local[4]) although it
    holds no rows. This frame is one constant row filtered out, which
    the optimizer folds into an empty LocalRelation: collecting it, or
    a union or sort over it, runs no job."""
    cols = ", ".join(
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in StructType.fromDDL(ddl).fields
    )
    return spark.sql(f"SELECT {cols} WHERE false")
