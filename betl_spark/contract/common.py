"""Shared helpers for contract queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from betl_spark.config import Conf
from betl_spark.dataflow.core import DataFlow
from betl_spark.io.readers import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Drift guard: if the testdata's events.ts ever reverts to parquet
        # TIMESTAMP(NANOS) (it was through round 3; it's TIMESTAMP(MICROS)
        # since round 4), the vectorized reader would reject it — this conf
        # makes it read as long nanos instead, which ts_micros() handles.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def ts_micros(df: DataFrame, col: str = "ts"):
    """Type-adaptive epoch-microseconds for an event-time column.

    The testdata's physical type for ``events.ts`` has changed across
    driver rounds (TIMESTAMP(NANOS) read as long nanos under
    ``nanosAsLong`` → TIMESTAMP(MICROS) read as timestamp_ntz), so no
    call site may hard-code a reading. Branches on the bound schema:

    - TIMESTAMP / TIMESTAMP_NTZ → ``unix_micros(CAST(col AS TIMESTAMP))``
      (session tz is UTC, so the NTZ cast is instant-preserving);
    - integral (long nanos) → ``col DIV 1000`` (integer division — no
      double-precision loss on 19-digit nanos).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp"))
    return F.expr(f"{col} DIV 1000")


def ts_micros_sql(df: DataFrame, col: str = "ts") -> str:
    """SQL-fragment twin of :func:`ts_micros` for customSQL query text."""
    dt = df.schema[col].dataType
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"unix_micros(CAST({col} AS TIMESTAMP))"
    return f"({col} DIV 1000)"


def dataflow(spark: SparkSession, sf_dir: str, tables: list[str], desc: str = "contract") -> DataFlow:
    """A DataFlow pre-loaded with the named testdata tables, so contract
    queries run through the engine's own operator surface."""
    import tempfile

    # throwaway app_root so side-channel outputs (alerts file, staging
    # dirs) never land in the caller's working directory
    dfl = DataFlow(Conf(app_root=tempfile.mkdtemp(prefix="betl_contract_")), desc, spark=spark)
    for t in tables:
        dfl.createDataset(t, table(spark, sf_dir, t))
    return dfl


# exact-decimal aggregation fragments (see package docstring)
def dec(col: str) -> str:
    return f"CAST({col} AS DECIMAL(18,2))"


REVENUE = f"CAST(SUM({dec('l_extendedprice')} * (1 - {dec('l_discount')})) AS DOUBLE)"
