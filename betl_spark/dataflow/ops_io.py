"""Dataset IO operators (reference betl/dataflow/dfl_io.py).

Datasets are named lazy DataFrames held in ``DataFlow.data``
(reference keeps eager pandas frames, DataFlowClass.py:59-60). Because
Spark DataFrames are immutable plans, ``duplicateDataset`` and
``getDataFrames`` are free handle copies rather than deep copies.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from betl_spark.io.readers import local_rows, read_source_table, read_staged
from betl_spark.io.writers import empty_to_null, write_staged
from betl_spark.schema.registry import all_string_schema, clean_table_name


class IOOps:
    def read(
        self,
        tableName: str,
        dataLayer: str,
        targetDataset: str | None = None,
        forceDBRead: bool = False,
        desc: str = "",
    ):
        """Read a staged table into a named dataset; error if the name is
        already in use (reference betl/dataflow/dfl_io.py:9-58).

        ``forceDBRead`` reads from the warehouse catalog table instead of
        the staging dir (the reference's ETL-DB read path).
        """
        dataset = targetDataset or tableName
        with self.journal.step("read", desc or f"read {dataLayer}.{tableName} -> {dataset}"):
            if dataset in self.data:
                raise ValueError(
                    f"dataset {dataset!r} already exists in this dataflow "
                    "(reference dfl_io.py:29-37 guard)"
                )
            layer = dataLayer.upper()
            if forceDBRead:
                df = self.spark.table(f"{layer.lower()}_{clean_table_name(tableName)}")
            else:
                all_string = layer in ("EXT", "TRN", "LOD")
                df = read_staged(
                    self.spark,
                    self.conf.layer_path(layer, clean_table_name(tableName)),
                    all_string=all_string,
                    limit=self.conf.data_limit_rows,
                )
            self.data[dataset] = df
        return self.data[dataset]

    def write(
        self,
        dataset: str,
        targetTableName: str,
        dataLayerID: str,
        forceDBWrite: bool = False,
        append_or_replace: str = "replace",
        keepDataflowOpen: bool = False,
        desc: str = "",
    ) -> None:
        """Write a dataset to a layer (reference betl/dataflow/dfl_io.py:61-212).

        - validates + reorders columns against the logical schema when the
          layer has one (dfl_io.py:106-160); LOD is schema-free;
        - '' → NULL at the warehouse (BSE/SUM) boundary (dbIO.py:27-28);
        - refuses to write to source-system datastores
          (dfl_io.py:102-103);
        - closes the dataflow unless ``keepDataflowOpen``
          (dfl_io.py:205-212).
        """
        with self.journal.step(
            "write", desc or f"write {dataset} -> {dataLayerID}.{targetTableName}"
        ) as s:
            df = self._get(dataset)
            layer = dataLayerID.upper()
            table_name = clean_table_name(targetTableName)
            ds_store = self.conf.datastores.get(layer)
            if ds_store is not None and getattr(ds_store, "is_src_sys", False):
                raise PermissionError(
                    "cannot write to a source system (reference dfl_io.py:102-103)"
                )
            table = self.registry.get_table(layer, table_name) if self.registry else None
            if table is not None:
                order = table.ordered_write_columns(df.columns)
                df = df.select(order)
            if layer in ("BSE", "SUM") or forceDBWrite:
                df = empty_to_null(df)
            write_staged(df, self.conf.layer_path(layer, table_name), mode=append_or_replace)
            if self.conf.verbose_step_logging:
                s.rows, s.cols = df.count(), len(df.columns)
        if not keepDataflowOpen:
            self.close()

    def getDataFromSrc(
        self,
        tableName: str,
        srcSysID: str,
        bulkOrDelta: str = "BULK",
        srcTableName: str | None = None,
        doNotChangeSrcTableName: bool = False,
        desc: str = "",
    ) -> DataFrame:
        """Extract a source-system table into a dataset, stamping audit
        columns (reference betl/dataflow/dfl_io.py:215-296 +
        dfl_audit.py:4-16)."""
        from betl_spark.dataflow.audit import set_audit_cols

        with self.journal.step("getDataFromSrc", desc or f"extract {srcSysID}.{tableName}"):
            store = self.conf.datastores[srcSysID]
            src_name = srcTableName or tableName
            if not doNotChangeSrcTableName:
                tableName = clean_table_name(tableName)
            df = read_source_table(
                self.spark, store, src_name, limit=self.conf.data_limit_rows
            )
            df = set_audit_cols(df, srcSysID, bulkOrDelta)
            if tableName in self.data:
                raise ValueError(f"dataset {tableName!r} already exists")
            self.data[tableName] = df
        return df

    def createDataset(self, dataset: str, data: Any, desc: str = "") -> DataFrame:
        """Create a dataset from a dict of col→scalar/list, a DataFrame,
        or a list of rows (reference betl/dataflow/dfl_io.py:299-319)."""
        with self.journal.step("createDataset", desc or f"create {dataset}"):
            if isinstance(data, DataFrame):
                df = data
            elif isinstance(data, dict):
                cols = list(data.keys())
                n = max(
                    (len(v) for v in data.values() if isinstance(v, (list, tuple))),
                    default=1,
                )
                rows = []
                for i in range(n):
                    rows.append(
                        tuple(
                            v[i] if isinstance(v, (list, tuple)) else v
                            for v in data.values()
                        )
                    )
                if all(
                    all(r is None or isinstance(r, str) for r in row) for row in rows
                ):
                    df = local_rows(self.spark, rows, all_string_schema(cols))
                else:
                    df = self.spark.createDataFrame(rows, schema=cols)
            else:
                raise TypeError(f"cannot create dataset from {type(data)}")
            self.data[dataset] = df
        return df

    def duplicateDataset(self, dataset: str, targetDatasets: list[str], desc: str = "") -> None:
        """Copy a dataset to one or more new names
        (reference betl/dataflow/dfl_io.py:322-334). Lazy DFs are
        immutable, so this is a free handle rebind."""
        with self.journal.step("duplicateDataset", desc or f"dup {dataset}"):
            src = self._get(dataset)
            for t in targetDatasets:
                self.data[t] = src

    def getDataFrames(self, datasets: str | list[str], desc: str = ""):
        """Hand dataset handle(s) to app code
        (reference betl/dataflow/dfl_io.py:337-357; the reference's list
        path is broken — SURVEY §2.14.4 — implemented correctly here)."""
        if isinstance(datasets, str):
            return self._get(datasets)
        return {d: self._get(d) for d in datasets}

    def getColumns(self, dataset: str, columnNames: str | list[str]):
        """Project column(s) (reference betl/dataflow/dfl_io.py:360-380)."""
        names = [columnNames] if isinstance(columnNames, str) else list(columnNames)
        return self._get(dataset).select(*names)

    def getColumnList(self, dataset: str) -> list[str]:
        """List column names (reference betl/dataflow/dfl_io.py:383-396)."""
        return list(self._get(dataset).columns)
