"""Generated audit dimension (reference betl/defaultdataflows/dmAudit.py).

The cartesian product of the 4 load operations × data-quality scores
0-9 (dmAudit.py:41-69; schema :1-38), built with a native ``crossJoin``
instead of the reference's constant-key outer-join trick. The NK is the
'_'-joined (source_system, bulk_load_date, delta_load_date, operation)
string that ``collapse_audit_cols_to_nk`` produces on facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from betl_spark.io.readers import local_rows

LOAD_OPS = ["BULK", "DELTA", "MANUAL", "DEFAULT"]


def audit_dimension(spark: SparkSession) -> DataFrame:
    ops = local_rows(
        spark,
        [(o,) for o in LOAD_OPS],
        T.StructType([T.StructField("load_operation", T.StringType(), False)]),
    )
    scores = spark.range(10).select(F.col("id").cast("int").alias("data_quality_score"))
    return ops.crossJoin(scores.coalesce(1)).select("load_operation", "data_quality_score")


def transform_dm_audit(pipeline) -> None:
    dfl = pipeline.dataflow("transformDMAudit")
    dfl.createDataset("dm_audit", audit_dimension(pipeline.spark))
    dfl.prepForLoad("dm_audit")
