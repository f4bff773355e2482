"""Read paths.

Reference semantics reproduced (SURVEY.md §1.2):

- staged/CSV data is ALL-STRING with NA detection off — missing values
  are empty strings, not nulls (betl/io/fileIO.py:26-51);
- row-limit pushdown: DATA_LIMIT_ROWS → ``.limit(n)`` which Catalyst
  pushes into the scan (betl/ConfClass.py:186-191, betl/io/fileIO.py:39-43,
  betl/io/dbIO.py:9-13);
- column pruning: ``cols`` → ``.select`` which Catalyst pushes into the
  parquet/JDBC scan (betl/io/dbIO.py:7,20).

Everything returns a lazy DataFrame; no driver-side materialization.
Two paths also launch no Spark job to build the DataFrame:

- ``read_parquet``, the one batch parquet read, takes the schema Spark's
  non-merging inference would take (``footer_schema``) on the driver
  instead of in a job; a missing path, a glob, a partitioned layout and
  ``mergeSchema`` keep Spark's inference.
- ``local_rows`` turns driver-side rows into a ``LocalTableScan`` via
  Arrow, never a Python RDD whose every downstream task runs a Python
  worker.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from betl_spark.io.datastore import Datastore
from betl_spark.schema.registry import all_string_schema


def read_csv_all_string(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    quotechar: str = '"',
    limit: int | None = None,
) -> DataFrame:
    """CSV scan with every column str and '' (not null) for missing
    (reference betl/io/fileIO.py:26-51: dtype=str + na_filter=False)."""
    header = spark.read.option("header", True).option("sep", delimiter).csv(path).schema
    df = (
        spark.read.schema(all_string_schema(header.fieldNames()))
        .option("header", True)
        .option("sep", delimiter)
        .option("quote", quotechar)
        .option("emptyValue", "")
        .csv(path)
    )
    # unquoted empty fields still parse as null → ''
    df = df.select([F.coalesce(F.col(c), F.lit("")).alias(c) for c in df.columns])
    return df.limit(limit) if limit else df


def local_rows(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-side rows (tuples in ``schema`` field order) as a
    DataFrame of exactly ``schema``, built in the JVM.

    ``spark.createDataFrame(list, schema)`` parallelizes the list as a
    ``defaultParallelism``-partition Python RDD, so every job over it
    (a union with a dimension, a cross join) runs Python-worker tasks.
    An Arrow table becomes a ``LocalTableScan`` instead. Naive datetimes
    in a ``TimestampType`` column are taken as UTC.
    """
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's non-merging inference takes for a flat parquet
    directory or the file ``path``, read on the driver without a job:
    ``ParquetFileFormat.readSchemaFromFooter`` on the footer of the first
    data file in path order, under the session's confs. ``None`` where
    ``read_parquet`` leaves the schema to Spark's inference."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return None
    data = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory():
            return None
        if not name.startswith(("_", ".")):
            data[name] = st
    if not data:
        return None
    first = data[min(data)]
    pq = jvm.org.apache.parquet
    meta = pq.hadoop.ParquetFileReader.readFooter(
        hconf, first, pq.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    sql = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = sql.ParquetFileFormat.readSchemaFromFooter(
        pq.hadoop.Footer(first.getPath(), meta), sql.ParquetToSparkSchemaConverter(state.conf())
    )
    return T._parse_datatype_json_string(schema.json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Batch parquet read with the ``footer_schema`` where there is one,
    so building it launches no Spark job; otherwise Spark's inference."""
    schema = footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def read_staged(
    spark: SparkSession,
    path: str,
    all_string: bool = True,
    limit: int | None = None,
) -> DataFrame:
    """``read_parquet`` of a staged table (a ``write_staged`` parquet dir).

    Staging layers keep the reference's all-string model; nulls read back
    as '' so operator semantics match (betl/io/fileIO.py:26-51).
    """
    df = read_parquet(spark, path)
    if all_string:
        df = df.select(
            [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in df.columns]
        )
    return df.limit(limit) if limit else df


def read_source_table(
    spark: SparkSession,
    datastore: Datastore,
    table_name: str,
    cols: list[str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """Extract one table from a source system
    (reference betl/dataflow/dfl_io.py:215-296 dispatch).
    """
    t = datastore.datastore_type
    if t == "FILESYSTEM":
        df = read_csv_all_string(
            spark, datastore.table_path(table_name), datastore.delimiter, datastore.quotechar
        )
    elif t == "PARQUET":
        df = read_parquet(spark, datastore.table_path(table_name))
    elif t == "JSONL":
        # newline-delimited JSON: splittable, so record parsing
        # parallelizes like any text scan. Schema inference is an extra
        # full pass over the data — at scale pass extra['schema'] (DDL
        # string or StructType), or extra['sample_ratio'] to infer from
        # a sample.
        reader = spark.read
        schema = datastore.extra.get("schema")
        if schema is not None:
            reader = reader.schema(schema)
        elif datastore.extra.get("sample_ratio"):
            reader = reader.option(
                "samplingRatio", str(datastore.extra["sample_ratio"])
            )
        df = reader.json(datastore.table_path(table_name))
    elif t == "ORC":
        # columnar like parquet: splittable, predicate/projection
        # pushdown through the native reader
        df = spark.read.orc(datastore.table_path(table_name))
    elif t == "FIXEDWIDTH":
        # mainframe-style fixed-column records: one text scan, then a
        # pure substring projection per declared column (codegen; the
        # line is read once, never re-parsed). All-string staging
        # semantics like FILESYSTEM: values come back trimmed, ''
        # stays '' (the ''→NULL boundary belongs to the warehouse
        # write path, exactly as with CSV).
        colspecs = datastore.extra.get("colspecs")
        if not colspecs:
            raise ValueError(
                f"datastore {datastore.datastore_id}: FIXEDWIDTH needs "
                "extra['colspecs'] = [(name, start, width), ...] "
                "(0-based char starts)"
            )
        raw = spark.read.text(datastore.table_path(table_name))
        df = raw.select(
            *[
                F.trim(F.substring(F.col("value"), start + 1, width)).alias(
                    name
                )
                for name, start, width in colspecs
            ]
        )
    elif t == "XML":
        # Spark 4 native XML source (the spark-xml package, merged
        # upstream): rowTag-delimited records. Schema inference costs a
        # full extra pass over the files — at scale pass
        # extra['schema'] (DDL string or StructType), like JSONL.
        reader = spark.read.format("xml").option(
            "rowTag", datastore.extra.get("row_tag", "row")
        )
        schema = datastore.extra.get("schema")
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(datastore.table_path(table_name))
    elif t == "TEXT":
        # raw text corpus: line mode (default — splittable, one record
        # per line) or extra['wholetext'] (one record per FILE — the
        # natural unit for document ingestion; not splittable, so
        # parallelism = file count: shard the corpus into many files).
        # extra['with_path'] adds the source file as `doc_path` (the
        # natural document id).
        # NOTE: wholetext must go through the .text() kwarg — the text
        # source ignores a .option("wholetext", ...) set on the reader
        df = spark.read.text(
            datastore.table_path(table_name),
            wholetext=bool(datastore.extra.get("wholetext")),
        )
        if datastore.extra.get("with_path"):
            df = df.select(
                F.input_file_name().alias("doc_path"), F.col("value")
            )
    elif t in ("POSTGRES", "SQLITE"):
        if datastore.jdbc_url:
            reader = spark.read.format("jdbc").option("url", datastore.jdbc_url).option(
                "dbtable", table_name
            )
            for k, v in datastore.jdbc_properties.items():
                reader = reader.option(k, v)
            df = reader.load()
        elif t == "SQLITE" and datastore.path:
            df = _read_sqlite_table(spark, datastore, table_name)
        else:
            raise ValueError(
                f"datastore {datastore.datastore_id}: jdbc_url required "
                "(or, for SQLITE, path=<.db file> for the stdlib driver-side read)"
            )
    elif t == "GSHEET":
        df = _read_gsheet(spark, datastore, table_name)
    elif t == "EXCEL":
        df = _read_excel(spark, datastore, table_name)
    else:  # pragma: no cover
        raise ValueError(t)
    if cols:
        df = df.select(*cols)
    return df.limit(limit) if limit else df


def _read_sqlite_table(
    spark: SparkSession, datastore: Datastore, table_name: str
) -> DataFrame:
    """SQLite extract without a JDBC driver jar: stdlib ``sqlite3``
    driver-side read → ``local_rows``, with column types mapped
    from the declared affinities (INT→long, REAL→double, else string).

    The reference reads DB sources exactly this way — one eager
    driver-side SELECT into pandas (betl/io/dbIO.py:5-13) — and a local
    .db file is single-node by nature, so this is the honest
    distribution shape; point ``jdbc_url`` at a real database (with
    partitioning options) for cluster-scale extracts.
    """
    import os
    import sqlite3

    db = datastore.path
    if os.path.isdir(db):
        filename = datastore.extra.get("filename")
        if not filename:
            raise ValueError(
                f"datastore {datastore.datastore_id}: path is a directory; "
                "set extra['filename'] to the .db file"
            )
        db = os.path.join(db, filename)
    con = sqlite3.connect(db)
    try:
        known = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type IN ('table', 'view')"
            ).fetchall()
        ]
        if table_name not in known:
            raise KeyError(f"table {table_name!r} not in {db}; have {sorted(known)}")
        info = con.execute(f"pragma table_info('{table_name}')").fetchall()
        names = [row[1] for row in info]
        decls = [(row[2] or "").upper() for row in info]
        raw = list(con.execute(f'SELECT * FROM "{table_name}"'))
    finally:
        con.close()

    # SQLite typing is flexible — a column declared INTEGER may legally
    # hold REAL or TEXT values, so the Spark type comes from the VALUES
    # (narrowest of long → double → string that fits every value), with
    # the declared affinity only breaking the tie for all-NULL/empty
    # columns. Forcing the affinity would silently truncate 1.5 → 1 or
    # crash on 'abc'; the reference (pandas read_sql) preserves values.
    def col_type(i: int) -> T.DataType:
        seen = {type(r[i]) for r in raw if r[i] is not None}
        if not seen:
            decl = decls[i]
            if "INT" in decl:
                return T.LongType()
            if any(k in decl for k in ("REAL", "FLOA", "DOUB", "NUMERIC", "DECIMAL")):
                return T.DoubleType()
            return T.StringType()
        if seen <= {int, bool}:
            return T.LongType()
        if seen <= {int, bool, float}:
            return T.DoubleType()
        return T.StringType()

    types = [col_type(i) for i in range(len(names))]
    fields = [T.StructField(n, t) for n, t in zip(names, types)]

    def conv(v, t):
        if v is None:
            return None
        if isinstance(t, T.LongType):
            return int(v)
        if isinstance(t, T.DoubleType):
            return float(v)
        return v if isinstance(v, str) else str(v)

    rows = [tuple(conv(v, t) for v, t in zip(r, types)) for r in raw]
    return local_rows(spark, rows, T.StructType(fields))


def fetch_gsheet_rows(datastore: Datastore, worksheet: str) -> list[list]:
    """Live GSheet fetch via gspread (import-gated, like
    ``Pipeline.to_airflow_dag``): service-account auth from
    ``extra['api_key_file']`` (+ optional ``extra['api_scope']``), open
    the spreadsheet named by ``workbook``, return
    ``worksheet.get_all_values()`` — the exact recipe of the
    reference's GsheetDatastore + readDataFromWorksheet
    (betl/io/DatastoreClass_gsheet.py:9-41, betl/io/gsheetIO.py:4-12).
    A pre-fetched list-of-rows in ``extra['rows']`` short-circuits the
    network entirely (the sandbox/test seam).
    """
    rows = datastore.extra.get("rows")
    if rows is not None:
        return rows
    try:
        import gspread
    except ImportError as exc:
        raise NotImplementedError(
            "gspread not installed; inject pre-fetched rows via "
            "Datastore.extra['rows']"
        ) from exc
    key_file = datastore.extra.get("api_key_file")
    if not datastore.workbook or not key_file:
        raise ValueError(
            f"GSHEET datastore {datastore.datastore_id}: live fetch needs "
            "workbook=<spreadsheet name> and extra['api_key_file']=<service "
            "account json> (reference betl/io/DatastoreClass_gsheet.py:11-17)"
        )
    scopes = datastore.extra.get("api_scope")
    if scopes:
        client = gspread.service_account(filename=key_file, scopes=scopes)
    else:
        client = gspread.service_account(filename=key_file)
    return client.open(datastore.workbook).worksheet(worksheet).get_all_values()


def _read_gsheet(spark: SparkSession, datastore: Datastore, worksheet: str) -> DataFrame:
    """GSheet scan: row-1 headers, all-string cells
    (reference betl/io/gsheetIO.py:4-12). Driver-side fetch via gspread
    (``fetch_gsheet_rows`` — sheets are small config/mapping inputs, so
    a driver fetch then ``local_rows`` is the right distribution
    shape), or injected ``extra['rows']``.
    """
    rows = fetch_gsheet_rows(datastore, worksheet)
    header, *data = rows
    return local_rows(
        spark,
        [[("" if v is None else str(v)) for v in r] for r in data],
        all_string_schema([str(h) for h in header]),
    )


def _read_excel(spark: SparkSession, datastore: Datastore, worksheet: str) -> DataFrame:
    """Excel scan: stop at first empty row, trim trailing empty columns
    (reference betl/io/excelIO.py:4-35).

    Live path: ``datastore.workbook`` names an .xlsx file, read
    driver-side with the stdlib SpreadsheetML parser (io/xlsx.py) —
    workbook sheets are small config/mapping inputs, so a driver fetch
    then ``local_rows`` is the right distribution shape. A
    pre-fetched list-of-rows can still be injected via
    ``extra['rows']`` (kept for parity with the gsheet seam).
    """
    rows = datastore.extra.get("rows")
    if rows is None:
        if not datastore.workbook:
            raise ValueError(
                f"EXCEL datastore {datastore.datastore_id}: set workbook=<path to .xlsx> "
                "or inject pre-fetched rows via extra['rows']"
            )
        from betl_spark.io.xlsx import read_worksheet_rows

        rows = read_worksheet_rows(datastore.workbook, worksheet)
    names, trimmed, width = excel_table(rows, worksheet)
    return local_rows(
        spark,
        [
            [("" if v is None else str(v)) for v in r[:width]] + [""] * (width - len(r))
            for r in trimmed
        ],
        all_string_schema(names),
    )


def excel_table(
    rows: list[list], worksheet: str = "?"
) -> tuple[list[str], list[list[str]], int]:
    """Worksheet rows → (column names, trimmed data rows, width) under
    the reference's scan rules — shared by the EXCEL scan and by
    ``readsrc`` schema inference so both always agree on the header.

    Rules (reference betl/io/excelIO.py:4-35): stop at the first
    fully-empty row; trim to the max non-empty column; data can be
    wider than the header row, and header cells can be empty gaps (the
    reference leaves both unnamed — here they get positional _c<i>
    names so the schema stays valid and unambiguous)."""
    if not rows:
        raise ValueError(f"worksheet {worksheet!r} is empty (no header row)")
    header, *data = rows
    trimmed: list[list[str]] = []
    for r in data:
        if all(v is None or str(v) == "" for v in r):
            break
        trimmed.append([("" if v is None else str(v)) for v in r])
    width = 0
    for r in [header] + trimmed:
        for i, v in enumerate(r):
            if v is not None and str(v) != "":
                width = max(width, i + 1)
    names = [
        str(h) if h is not None and str(h) != "" else f"_c{i}"
        for i, h in enumerate(header[:width])
    ]
    names += [f"_c{i}" for i in range(len(names), width)]
    return names, trimmed, width
