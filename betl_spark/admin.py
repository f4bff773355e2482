"""Admin verbs — catalog/DDL lifecycle (reference betl/admin.py:12-79).

Three verbs, same contract as the reference CLI
(betl/logger/cliText.py:54-115):

- ``read_src``  — connect to every source-system datastore and infer
  table/column schemas into the registry's EXT layer, one dataset per
  source system (reference betl/admin.py:147-357).
- ``refresh_schema_desc`` — persist the registry to the schema-desc
  text file and reload it (reference betl/admin.py:364-474; GSheet
  workbooks cached as dict-literal text → JSON here).
- ``run_rebuilds`` — physical DDL: (re)create the warehouse-layer
  storage for every declared table, dropping first (reference
  betl/admin.py:481-488, DataLayerClass.py:86-132). In Spark terms:
  overwrite each BSE/SUM table path with an empty, typed parquet
  dataset — indexes/FK constraints have no equivalent and are no-ops
  (SURVEY.md §1.3).
- ``reset`` / ``delete_temp_data`` — wipe staged data
  (reference admin.py CLI ``reset``/``cleartmpdata``).

Schema inference per datastore type (reference betl/admin.py:171-336):
PARQUET reads the footer schema; FILESYSTEM(csv) reads the header row,
every column TEXT Attribute (:272-274); SQLITE walks sqlite_master +
pragma table_info via the stdlib driver (:212-238); POSTGRES queries
information_schema.columns (:171-210, import-gated on psycopg2);
GSHEET/EXCEL take the first worksheet row (:285-336, import-gated on
gspread/openpyxl).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession, types as T

from betl_spark.config import Conf
from betl_spark.io.datastore import Datastore
from betl_spark.io.readers import local_rows, read_parquet
from betl_spark.schema.registry import Column, SchemaRegistry, Table

# Spark type → declared dataType (inverse of registry._TYPE_MAP, used
# when inferring from typed sources; unknown/nested types degrade to
# TEXT like the reference's non-DB default, betl/admin.py:272-274)
_DECLARED: list[tuple[type, str]] = [
    (T.LongType, "BIGINT"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "INTEGER"),
    (T.DoubleType, "DOUBLE"),
    (T.FloatType, "DOUBLE"),
    (T.DateType, "DATE"),
    (T.TimestampType, "TIMESTAMP"),
    (T.BooleanType, "BOOLEAN"),
    (T.BinaryType, "BINARY"),
    (T.StringType, "TEXT"),
]


def declared_type_for(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"NUMERIC({dt.precision},{dt.scale})"
    for cls, name in _DECLARED:
        if isinstance(dt, cls):
            return name
    return "TEXT"


def _infer_parquet(spark: SparkSession, store: Datastore, table: str) -> list[Column]:
    schema = read_parquet(spark, store.table_path(table)).schema
    return [Column(f.name, declared_type_for(f.dataType)) for f in schema.fields]


def _infer_jsonl(spark: SparkSession, store: Datastore, table: str) -> list[Column]:
    # typed inference like parquet (JSONL records carry JSON types);
    # honors the same extra['schema'] override as the scan so inferred
    # registry schema and read always agree
    from betl_spark.io.readers import read_source_table

    schema = read_source_table(spark, store, table).schema
    return [Column(f.name, declared_type_for(f.dataType)) for f in schema.fields]


def _infer_csv_header(spark: SparkSession, store: Datastore, table: str) -> list[Column]:
    # header row only; every column TEXT Attribute (betl/admin.py:240-283)
    head = spark.read.option("header", "true").option("delimiter", store.delimiter).csv(
        store.table_path(table)
    )
    return [Column(c, "TEXT") for c in head.columns]


def _infer_sqlite(db_path: str) -> dict[str, list[Column]]:
    # stdlib driver — inference is a driver-side metadata walk
    # (betl/admin.py:212-238); the data read itself goes through JDBC
    import sqlite3

    out: dict[str, list[Column]] = {}
    con = sqlite3.connect(db_path)
    try:
        tables = [
            r[0]
            for r in con.execute(
                "SELECT name FROM sqlite_master WHERE type='table'"
            ).fetchall()
        ]
        for t in tables:
            cols = con.execute(f"pragma table_info('{t}')").fetchall()
            out[t] = [Column(c[1], (c[2] or "TEXT").upper() or "TEXT") for c in cols]
    finally:
        con.close()
    return out


# information_schema.columns data_type → declared type (reference walks
# the same catalog, betl/admin.py:171-210)
_PG_DECLARED = {
    "integer": "INTEGER",
    "smallint": "INTEGER",
    "bigint": "BIGINT",
    "real": "DOUBLE",
    "double precision": "DOUBLE",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "bytea": "BINARY",
}


def _infer_postgres(spark: SparkSession, store: Datastore) -> dict[str, list[Column]]:
    """Walk ``information_schema.columns`` over the same JDBC seam the
    data reads use (reference betl/admin.py:171-210 does it via a
    psycopg2 cursor; here the catalog query is just another JDBC scan,
    so no second driver is needed). Unexercised in this sandbox — no
    Postgres/JDBC jar — but it is the identical code path as
    ``read_source_table``'s JDBC branch, which carries the same gate.
    """
    if not store.jdbc_url:
        raise ValueError(
            f"datastore {store.datastore_id}: jdbc_url required for POSTGRES inference"
        )
    query = (
        "(SELECT table_name, column_name, data_type, ordinal_position, "
        "numeric_precision, numeric_scale "
        "FROM information_schema.columns WHERE table_schema = 'public') AS cols"
    )
    reader = spark.read.format("jdbc").option("url", store.jdbc_url).option(
        "dbtable", query
    )
    for k, v in store.jdbc_properties.items():
        reader = reader.option(k, v)
    out: dict[str, list[Column]] = {}
    for r in sorted(
        reader.load().collect(), key=lambda r: (r["table_name"], r["ordinal_position"])
    ):
        dt = (r["data_type"] or "").lower()
        if dt == "numeric" and r["numeric_precision"] is not None:
            declared = f"NUMERIC({r['numeric_precision']},{r['numeric_scale'] or 0})"
        elif dt.startswith("timestamp"):
            declared = "TIMESTAMP"
        else:
            declared = _PG_DECLARED.get(dt, "TEXT")
        out.setdefault(r["table_name"], []).append(Column(r["column_name"], declared))
    return out


def list_source_tables(store: Datastore) -> list[str]:
    """Enumerate tables of a file-backed source datastore. For EXCEL
    the 'tables' are the workbook's worksheets (reference
    betl/admin.py:285-336 walks every worksheet)."""
    if store.datastore_type == "EXCEL" and store.workbook:
        from betl_spark.io.xlsx import worksheet_names

        return worksheet_names(store.workbook)
    if store.path is None:
        return []
    suffix = ".parquet" if store.datastore_type == "PARQUET" else store.file_ext
    return sorted(
        f[: -len(suffix)]
        for f in os.listdir(store.path)
        if f.endswith(suffix)
    )


def read_src(
    spark: SparkSession,
    conf: Conf,
    registry: SchemaRegistry,
    tables_per_src: dict[str, list[str]] | None = None,
) -> SchemaRegistry:
    """Infer EXT-layer schemas from every source-system datastore
    (reference betl/admin.py:147-357): one registry dataset per source
    system; table names sanitized but ``srcTableName`` preserved."""
    for src_id, store in conf.datastores.items():
        if not getattr(store, "is_src_sys", False):
            continue
        if store.datastore_type == "SQLITE":
            # the db is one file holding all tables; walk its catalog
            for t, tcols in _infer_sqlite(store.path or "").items():
                registry.add_table(
                    "EXT", Table(t, tcols, src_table_name=t), dataset=src_id
                )
            continue
        if store.datastore_type == "POSTGRES":
            for t, tcols in _infer_postgres(spark, store).items():
                registry.add_table(
                    "EXT", Table(t, tcols, src_table_name=t), dataset=src_id
                )
            continue
        names = (tables_per_src or {}).get(src_id) or list_source_tables(store)
        for name in names:
            if store.datastore_type == "PARQUET":
                cols = _infer_parquet(spark, store, name)
            elif store.datastore_type == "JSONL":
                cols = _infer_jsonl(spark, store, name)
            elif store.datastore_type == "FILESYSTEM":
                cols = _infer_csv_header(spark, store, name)
            else:
                cols = [Column(c, "TEXT") for c in _first_row_columns(store, name)]
            registry.add_table(
                "EXT", Table(name, cols, src_table_name=name), dataset=src_id
            )
    return registry


def _first_row_columns(store: Datastore, worksheet: str) -> list[str]:
    """GSHEET/EXCEL header inference (reference betl/admin.py:285-336;
    non-DB sources default every column to a TEXT Attribute, reference
    betl/admin.py:272-274).

    EXCEL is live: the stdlib SpreadsheetML parser (io/xlsx.py) reads
    the worksheet and the scan's own header rules (stop-at-empty-row,
    trailing-col trim, positional names for gaps) produce the columns,
    so inferred schema and scan always agree. GSHEET goes through
    ``fetch_gsheet_rows`` — injected ``extra['rows']`` when present
    (the sandbox/test seam), else the import-gated live gspread fetch.
    """
    if store.datastore_type == "EXCEL" and store.workbook:
        from betl_spark.io.readers import excel_table
        from betl_spark.io.xlsx import read_worksheet_rows

        names, _, _ = excel_table(read_worksheet_rows(store.workbook, worksheet), worksheet)
        return names
    if store.datastore_type == "GSHEET":
        from betl_spark.io.readers import fetch_gsheet_rows

        header = fetch_gsheet_rows(store, worksheet)[0]
        # the reference SKIPS empty header cells but keeps reading
        # (betl/admin.py:293-295) — unlike EXCEL, which stops at the
        # first empty header (admin.py:316-329 else: break)
        return [str(h) for h in header if str(h) != ""]
    raise NotImplementedError(
        f"{store.datastore_type} header fetch not implemented "
        "(reference betl/admin.py:285-336)"
    )


def schema_desc_path(conf: Conf) -> str:
    return os.path.join(str(conf.schema_path), "dbSchemaDesc.json")


def refresh_schema_desc(conf: Conf, registry: SchemaRegistry) -> str:
    """Persist the registry as the schema-desc text file (reference
    betl/admin.py:470-472) and return the path."""
    path = schema_desc_path(conf)
    registry.save(path)
    return path


def load_schema_desc(conf: Conf) -> SchemaRegistry:
    return SchemaRegistry.load(schema_desc_path(conf))


def run_rebuilds(
    spark: SparkSession, conf: Conf, registry: SchemaRegistry, layers=("BSE", "SUM")
) -> list[str]:
    """Drop-and-recreate warehouse storage for every declared table
    (reference betl/admin.py:481-488): an empty typed parquet dataset
    per table, so subsequent appends see the declared schema."""
    rebuilt = []
    for layer in layers:
        for t in registry.tables(layer):
            path = conf.layer_path(layer, t.name)
            empty = local_rows(spark, [], t.to_struct_type())
            empty.write.mode("overwrite").parquet(path)
            rebuilt.append(f"{layer}.{t.name}")
    return rebuilt


def delete_temp_data(conf: Conf) -> None:
    """Wipe the staging tree (reference CLI ``cleartmpdata``)."""
    if conf.tmp_data_path and os.path.exists(conf.tmp_data_path):
        shutil.rmtree(conf.tmp_data_path)


def reset(conf: Conf) -> None:
    """Full reset: staged data + cached schema descs (reference CLI
    ``reset``, betl/admin.py:24-38)."""
    delete_temp_data(conf)
    p = schema_desc_path(conf)
    if os.path.exists(p):
        os.remove(p)


def admin(
    spark: SparkSession,
    conf: Conf,
    registry: SchemaRegistry | None = None,
    do_reset: bool = False,
    delete_tmp_data: bool = False,
    read_src_schemas: bool = False,
    refresh_schema_desc_files: bool = False,
    run_table_rebuilds: bool = False,
) -> SchemaRegistry:
    """The reference's admin entry point (betl/admin.py:12-79), verbs
    composable in the same order it applies them."""
    registry = registry or SchemaRegistry()
    if do_reset:
        reset(conf)
    if delete_tmp_data:
        delete_temp_data(conf)
    if read_src_schemas:
        read_src(spark, conf, registry)
    if refresh_schema_desc_files:
        refresh_schema_desc(conf, registry)
    if run_table_rebuilds:
        run_rebuilds(spark, conf, registry)
    return registry


def compact_warehouse(
    spark: SparkSession,
    conf: Conf,
    registry: SchemaRegistry,
    layers=("BSE", "SUM"),
    target_file_mb: int = 128,
) -> dict[str, dict]:
    """Maintenance verb: small-file compaction across every declared
    warehouse table (beyond-reference — the reference's Postgres
    warehouse has autovacuum; a parquet warehouse fed by incremental
    loads accumulates per-batch files instead, and a million 1 MB
    files costs more in scan planning than the data). Delegates to
    ``io.writers.compact_parquet`` (size-driven rewrite, atomic swap)
    per table; tables whose storage doesn't exist yet are skipped.
    Returns {layer.table: {files_before, files_after, bytes}}.
    """
    from betl_spark.io.writers import compact_parquet

    out: dict[str, dict] = {}
    for layer in layers:
        for t in registry.tables(layer):
            path = conf.layer_path(layer, t.name)
            if not os.path.isdir(path):
                continue
            out[f"{layer}.{t.name}"] = compact_parquet(
                spark, path, target_file_mb=target_file_mb
            )
    return out
