"""Datastore connectors.

The reference supports POSTGRES / SQLITE / FILESYSTEM(csv) / GSHEET /
EXCEL datastores with an ``isSrcSys`` read-only flag
(betl/io/DatastoreClass.py:1-11, betl/ConfClass.py:368-424). Here a
Datastore is a declarative descriptor the readers translate into
``spark.read`` options:

- FILESYSTEM → ``spark.read.csv`` (all-string staging semantics)
- PARQUET    → ``read_parquet`` (footer schema, no job; the testdata format)
- JSONL      → ``spark.read.json`` (newline-delimited records, the
  training-data interchange format; beyond-reference source type —
  pass ``extra['schema']`` at scale to skip the inference scan)
- ORC        → ``spark.read.orc`` (columnar like parquet: splittable,
  predicate/projection pushdown; beyond-reference source type)
- FIXEDWIDTH → ``spark.read.text`` + substring projections
  (mainframe-style fixed-column records; pass ``extra['colspecs']`` as
  [(name, start, width), ...] with 0-based char starts — all-string
  staging semantics like FILESYSTEM, values trimmed)
- POSTGRES / SQLITE → ``spark.read.jdbc`` (needs a JDBC driver jar on the
  cluster; constructed lazily so tests without one still import)
- GSHEET / EXCEL → driver-side fetch → ``local_rows``. The
  fetch libraries (gspread/openpyxl) are not in this container, so those
  fetches are import-gated; the Spark-side plumbing is real.

The read-only guard for source systems (reference enforces it in the
write path, betl/dataflow/dfl_io.py:102-103) is carried on the
descriptor and enforced by ``DataFlow.write``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

SUPPORTED = (
    "FILESYSTEM", "PARQUET", "JSONL", "ORC", "FIXEDWIDTH", "XML", "TEXT",
    "POSTGRES", "SQLITE", "GSHEET", "EXCEL",
)


@dataclass
class Datastore:
    datastore_id: str
    datastore_type: str  # one of SUPPORTED
    is_src_sys: bool = False
    # FILESYSTEM/PARQUET
    path: str | None = None
    file_ext: str = ".csv"
    delimiter: str = ","
    quotechar: str = '"'
    # POSTGRES/SQLITE
    jdbc_url: str | None = None
    jdbc_properties: dict[str, str] = field(default_factory=dict)
    # GSHEET/EXCEL
    workbook: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        t = self.datastore_type.upper()
        if t not in SUPPORTED:
            raise ValueError(f"unsupported datastore type {t!r}; expected one of {SUPPORTED}")
        self.datastore_type = t
        if t == "JSONL" and self.file_ext == ".csv":  # untouched default
            self.file_ext = ".jsonl"
        if t == "ORC" and self.file_ext == ".csv":
            self.file_ext = ".orc"
        if t == "FIXEDWIDTH" and self.file_ext == ".csv":
            self.file_ext = ".txt"
        if t == "XML" and self.file_ext == ".csv":
            self.file_ext = ".xml"
        if t == "TEXT" and self.file_ext == ".csv":
            self.file_ext = ".txt"

    def table_path(self, table_name: str) -> str:
        if self.path is None:
            raise ValueError(f"datastore {self.datastore_id} has no filesystem path")
        if self.datastore_type == "PARQUET":
            return f"{self.path.rstrip('/')}/{table_name}.parquet"
        return f"{self.path.rstrip('/')}/{table_name}{self.file_ext}"
