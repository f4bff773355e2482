"""Schema-shape operators: renameColumns, dropColumns, addColumns,
pivotColsToRows (reference betl/dataflow/dfl_changeSchema.py).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column as SparkCol, DataFrame, functions as F, types as T
from pyspark.sql.internal import InternalFunction

from betl_spark.config import AUDIT_COL_NAMES

# positional assignment is order-dependent + driver-bound by nature;
# refuse distributed-scale inputs rather than silently sorting them
POSITIONAL_MAX_ROWS = 100_000


def _add_positional_column(
    df: DataFrame, name: str, values: list, max_rows: int = POSITIONAL_MAX_ROWS
) -> DataFrame:
    """Attach a list as a column by row position (the reference assigns a
    pandas array positionally, dfl_changeSchema.py:72-75).

    Positional semantics only exist relative to the current plan's row
    order — fine for the reference's use (small lookup/config frames),
    meaningless for big distributed data, so inputs beyond ``max_rows``
    are rejected with a clear error instead of silently running a global
    sort. Row position = Spark's distributed sequence id: zipWithIndex's
    partition-then-offset order, entirely JVM-side (no Python RDD
    round-trip, no single-partition window).
    """
    n = df.count()
    if len(values) != n:
        raise ValueError(
            f"positional column {name!r}: {len(values)} values for {n} rows"
        )
    if n > max_rows:
        raise ValueError(
            f"positional column {name!r}: {n} rows exceeds the {max_rows}-row cap — "
            "positional assignment is order-dependent and only meaningful for small "
            "config/lookup frames; join on a real key instead"
        )
    spark = df.sparkSession
    left = df.withColumn("__pos__", InternalFunction.distributed_sequence_id())
    right = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], schema=["__pos__", name]
    )
    return (
        left.join(F.broadcast(right), "__pos__", "left")
        .orderBy("__pos__")
        .drop("__pos__")
    )


class SchemaOps:
    def renameColumns(
        self,
        dataset: str,
        columns: dict[str, str],
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Rename columns from a mapping
        (reference betl/dataflow/dfl_changeSchema.py:4-18)."""
        with self.journal.step("renameColumns", desc or f"rename {dataset}"):
            out = self._get(dataset).withColumnsRenamed(columns)
            self.data[targetDataset or dataset] = out
        return out

    def dropColumns(
        self,
        dataset: str,
        colsToDrop: list[str] | None = None,
        colsToKeep: list[str] | None = None,
        dropAuditCols: bool = False,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Drop by list, keep by list (audit cols silently retained), or
        drop the audit cols (reference dfl_changeSchema.py:21-63,
        colsToKeep audit retention at :41-45)."""
        with self.journal.step("dropColumns", desc or f"dropColumns {dataset}"):
            df = self._get(dataset)
            if colsToDrop is not None and colsToKeep is not None:
                raise ValueError("specify colsToDrop or colsToKeep, not both")
            if colsToKeep is not None:
                keep = list(colsToKeep) + [
                    c for c in AUDIT_COL_NAMES if c in df.columns and c not in colsToKeep
                ]
                out = df.select([c for c in df.columns if c in set(keep)])
            elif colsToDrop is not None:
                out = df.drop(*colsToDrop)
            elif dropAuditCols:
                out = df.drop(*[c for c in AUDIT_COL_NAMES if c in df.columns])
            else:
                raise ValueError("nothing to drop")
            self.data[targetDataset or dataset] = out
        return out

    def addColumns(
        self,
        dataset: str,
        columns: dict[str, Any],
        targetDataset: str | None = None,
        desc: str = "",
        vectorized: bool = True,
        row_compat: bool = False,
    ) -> DataFrame:
        """Add columns from a dict of col → scalar | Spark Column |
        callable(row) (reference betl/dataflow/dfl_changeSchema.py:66-87).

        Callables must return str (or None). Prefer passing a Spark
        Column expression — it stays in whole-stage codegen. When a
        callable is unavoidable, the DEFAULT is the Arrow path: rows
        arrive as Arrow batches and the callable is applied to pandas
        Series rows (``pdf.apply(f, axis=1)`` — the reference's own
        shape, betl/dataflow/dfl_changeSchema.py:76-78), ~10-100× less
        per-row overhead than a row-at-a-time Python UDF. Series rows
        support both ``row.col`` and ``row['col']`` access, so most
        callables run unchanged; pass ``row_compat=True`` only if the
        callable needs a genuine ``pyspark.sql.Row`` (e.g. it calls
        ``row.asDict()``) — that opts into the slow per-row UDF and
        should never be on a 100 TB hot path.
        """
        with self.journal.step("addColumns", desc or f"addColumns {dataset}"):
            df = self._get(dataset)
            for name, value in columns.items():
                if isinstance(value, SparkCol):
                    df = df.withColumn(name, value)
                elif callable(value):
                    if vectorized and not row_compat:
                        def _apply(pdf, _f=value):
                            return pdf.apply(_f, axis=1)

                        fn = F.pandas_udf(_apply, T.StringType())
                    else:
                        fn = F.udf(value, T.StringType())
                    df = df.withColumn(name, fn(F.struct(*df.columns)))
                elif isinstance(value, (list, tuple)):
                    df = _add_positional_column(df, name, list(value))
                else:
                    df = df.withColumn(name, F.lit(value))
            self.data[targetDataset or dataset] = df
        return df

    def setColumns(
        self,
        dataset: str,
        columns: dict[str, Any],
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Semantic alias of addColumns for overwriting existing columns
        (reference betl/dataflow/dfl_changeData.py:105-107)."""
        return self.addColumns(dataset, columns, targetDataset, desc or f"setColumns {dataset}")

    def pivotColsToRows(
        self,
        dataset: str,
        colsNotToPivot: list[str],
        colsToPivot: list[str],
        varName: str,
        valueName: str,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        """Unpivot/melt: id vars = colsNotToPivot + audit cols, value
        vars = colsToPivot → (varName, valueName) rows
        (reference betl/dataflow/dfl_changeSchema.py:90-127; audit cols
        kept as id_vars at :112-117). Spark-native ``unpivot`` — a
        narrow transformation, no shuffle."""
        with self.journal.step("pivotColsToRows", desc or f"unpivot {dataset}"):
            df = self._get(dataset)
            ids = list(colsNotToPivot) + [
                c
                for c in AUDIT_COL_NAMES
                if c in df.columns and c not in colsNotToPivot and c not in colsToPivot
            ]
            out = df.unpivot(ids, list(colsToPivot), varName, valueName)
            self.data[targetDataset or dataset] = out
        return out
