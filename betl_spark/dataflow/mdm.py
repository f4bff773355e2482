"""Master-data mapping (reference betl/dataflow/dfl_mdm.py:8-213).

The reference syncs a human-curated mapping table in a Google Sheet with
the data: full-outer join, auto-populate unmapped values, write the
distinct observed combinations + occurrence counts back to the sheet,
and alert on unmapped rows.

Here the mapping store is pluggable: any object with ``read() ->
DataFrame-able rows`` and ``write(rows)``; a gspread-backed store can be
layered on driver-side without touching this logic. The join +
precedence semantics are reproduced exactly:

1. blanks in the data join to blank sheet cells ('' fill, :39-43);
2. auto-populate fills a mapping column only where the sheet left it
   empty — never overwriting curated values (:83-88);
3. output keeps all non-``right_only`` rows (:122-126), mapping NaN→'';
4. write-back = distinct (joinCols ∪ masterDataCols) + count, sorted
   desc (:133-180);
5. unmapped rows raise an alert (:186-197).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from betl_spark.dataflow.journal import log_alert
from betl_spark.io.readers import local_rows
from betl_spark.io.writers import null_to_empty
from betl_spark.schema.registry import all_string_schema


class MappingStore:
    """In-memory mapping store standing in for the reference's GSheet
    worksheet (dfl_mdm.py:22-36). ``rows`` = list of lists, first row =
    header."""

    def __init__(self, rows: list[list[str]] | None = None):
        self.rows = rows or []
        self.alerts: list[str] = []

    def read_df(self, spark) -> DataFrame:
        header, *data = self.rows
        return local_rows(
            spark,
            [[("" if v is None else str(v)) for v in r] for r in data],
            all_string_schema([str(h) for h in header]),
        )

    def write_rows(self, header: list[str], data: list[list[str]]) -> None:
        self.rows = [header] + data

    def alert(self, msg: str) -> None:
        # reference writes an alerts file (betl/logger/alerts.py:4-12)
        self.alerts.append(msg)


class MDMOps:
    def mapMasterData(
        self,
        dataset: str,
        mdmStore: MappingStore,
        joinCols: list[str],
        masterDataCols: list[str],
        autoPopMappingCols: list[str] | None = None,
        targetDataset: str | None = None,
        desc: str = "",
    ) -> DataFrame:
        with self.journal.step("mapMasterData", desc or f"mdm {dataset}"):
            autoPopMappingCols = autoPopMappingCols or []
            data = null_to_empty(self._get(dataset))  # :39-43
            mapping = mdmStore.read_df(self.spark)

            # auto-pop sources renamed out of the way (:58-64)
            auto_renames = {c: f"autoPop_{c}" for c in autoPopMappingCols}
            data = data.withColumnsRenamed(auto_renames)

            # The reference's full-outer-join-with-indicator (:70-75) would
            # shuffle the whole dataset on the mapping key — a key with few
            # distinct values (that's what makes it master data), i.e. a
            # maximally skewed shuffle at 100 TB. The mapping table is
            # human-curated and therefore always tiny, so the same
            # semantics decompose into two shuffle-free pieces:
            #   non-right_only rows  = data ⟕ broadcast(mapping)
            #   right_only existence = mapping ⟖anti distinct data keys
            right = mapping.withColumn("__in_map__", F.lit(1))
            joined = data.join(F.broadcast(right), on=list(joinCols), how="left")

            # auto-populate only where the sheet is empty/null (:83-88)
            for c in autoPopMappingCols:
                joined = joined.withColumn(
                    c,
                    F.when(
                        F.col(c).isNull() | (F.col(c) == ""), F.col(f"autoPop_{c}")
                    ).otherwise(F.col(c)),
                )
            joined = joined.drop(*[f"autoPop_{c}" for c in autoPopMappingCols])

            # output = all non-right_only rows, mapping nulls → '' (:116-126)
            out = null_to_empty(joined.drop("__in_map__"))

            # One aggregate job serves both bookkeeping contracts: the
            # grouped combos are few (it's master data), so match
            # accounting (:90-95) and the sheet write-back (:133-180)
            # both derive driver-side from its collected result.
            wb_cols = list(joinCols) + [c for c in masterDataCols if c not in joinCols]
            combo_counts = (
                joined.groupBy(
                    F.col("__in_map__").isNotNull().alias("__matched__"), *wb_cols
                )
                .agg(F.count(F.lit(1)).alias("count"))
                .collect()
            )
            matched = sum(r["count"] for r in combo_counts if r["__matched__"])
            data_only = sum(r["count"] for r in combo_counts if not r["__matched__"])

            # write-back: distinct combos + occurrence count, sorted desc
            # (:133-180); '' for the auto-populated nulls, as in `out`
            wb_agg: dict[tuple, int] = {}
            for r in combo_counts:
                key = tuple("" if r[c] is None else str(r[c]) for c in wb_cols)
                wb_agg[key] = wb_agg.get(key, 0) + r["count"]
            rows = [
                list(key) + [str(n)]
                for key, n in sorted(wb_agg.items(), key=lambda kv: (-kv[1], kv[0]))
            ]
            mdmStore.write_rows(wb_cols + ["count"], rows)

            if data_only > 0:  # :186-197
                msg = (
                    f"{data_only} rows of {dataset} have no master-data mapping "
                    f"({matched} matched)"
                )
                mdmStore.alert(msg)
                log_alert(self.conf, msg)
            self.data[targetDataset or dataset] = out
        return out
