"""Observation-table readers (S1 csv / S2 parquet+filters / S3 parser).

Reference contract (chip_creator.py:72-93, 258-298): columns x (lon),
y (lat), date, label; optional time (HH:MM:SS), year, mgrs_tile_id; the
parquet variant is hive-partitioned by (year, mgrs_tile_id) and takes a
predicate string. Catalyst pushes the translated predicate into the scan
(partition pruning + parquet row-group skipping for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.filters import filters_to_column, parse_filters
from ..operators.dates import normalize_dates

OBS_SCHEMA = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("date", T.StringType()),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_observations(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    filter_spec: str = "",
) -> DataFrame:
    if fmt == "csv":
        df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise ValueError(fmt)
    if filter_spec:
        df = df.filter(filters_to_column(parse_filters(filter_spec)))
    return normalize_dates(df, time_col="time", shift_to_month_start=False)
