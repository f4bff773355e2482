"""Generated date dimension (reference betl/defaultdataflows/dmDate.py).

One row per calendar day from EARLIEST_DATE_IN_DATA to
LATEST_DATE_IN_DATA (config, reference betl/ConfClass.py:230-232), with
the reference's derived attributes (dmDate.py:58-98): yyyymmdd int id,
calendar parts, four day-of-week numberings, day-of-year, ISO week.
Default rows −1 MISSING and −2 UNRECOGNISED (dmDate.py:101-129).

Spark-first: ``sequence() + explode`` generates the rows inside the JVM
— no driver loop, no UDF; every derived column is a built-in date
function inside whole-stage codegen. At any warehouse scale a date dim
is tiny; it is exactly the kind of table downstream joins broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from betl_spark.io.readers import local_rows


def date_dimension(
    spark: SparkSession,
    earliest: str,
    latest: str,
    include_default_rows: bool = True,
) -> DataFrame:
    days = spark.sql(
        f"SELECT explode(sequence(to_date('{earliest}'), to_date('{latest}'), "
        "interval 1 day)) AS cal_date"
    )
    dim = days.select(
        F.date_format("cal_date", "yyyyMMdd").cast("int").alias("date_id"),
        F.col("cal_date"),
        F.dayofmonth("cal_date").alias("cal_day"),
        F.month("cal_date").alias("cal_month"),
        F.year("cal_date").alias("cal_year"),
        # four day-of-week numberings (reference dmDate.py:76-90)
        F.dayofweek("cal_date").alias("day_of_week_sun_1"),          # Sun=1..Sat=7
        (((F.dayofweek("cal_date") + 5) % 7) + 1).alias("day_of_week_mon_1"),  # Mon=1..Sun=7
        (F.dayofweek("cal_date") - 1).alias("day_of_week_sun_0"),    # Sun=0..Sat=6
        ((F.dayofweek("cal_date") + 5) % 7).alias("day_of_week_mon_0"),        # Mon=0..Sun=6
        F.dayofyear("cal_date").alias("day_number"),
        F.weekofyear("cal_date").alias("week_number"),               # ISO week
    )
    if not include_default_rows:
        return dim
    # sequence()-derived fields are non-nullable; default rows need nulls
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in dim.schema.fields]
    )
    blank = (None,) * (len(nullable) - 1)
    defaults = local_rows(spark, [(-1, *blank), (-2, *blank)], nullable)
    return dim.unionByName(defaults)


def transform_dm_date(pipeline) -> None:
    dfl = pipeline.dataflow("transformDMDate")
    dim = date_dimension(
        pipeline.spark,
        pipeline.conf.earliest_date_in_data,
        pipeline.conf.latest_date_in_data,
        include_default_rows=False,  # default rows join at dim-load time
    )
    dfl.createDataset("dm_date", dim)
    dfl.prepForLoad("dm_date")
