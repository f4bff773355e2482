"""Write paths.

Reference semantics reproduced:

- write-time schema validation + reorder to logical-model column order
  (betl/dataflow/dfl_io.py:106-160) — done by the caller via
  ``Table.ordered_write_columns``;
- ``''`` → NULL conversion at the warehouse (DB) boundary
  (betl/io/dbIO.py:27-28) → ``empty_to_null``;
- NULL → ``''`` when data re-enters staging (betl/io/fileIO.py:26-51,
  mdm fillna betl/dataflow/dfl_mdm.py:43) → ``null_to_empty``;
- replace vs append modes (betl/dataflow/dfl_io.py:61-212; truncate-then-
  COPY becomes ``mode='overwrite'``, which on a cluster is an atomic
  parquet dir swap instead of a Postgres TRUNCATE+COPY).

Staging format is parquet, not CSV: same all-string *semantics* as the
reference's tmp_data CSVs, but columnar, splittable, and predicate-
pushdown-friendly — the format you'd actually use at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from betl_spark.io.readers import read_parquet


def empty_to_null(df: DataFrame, string_cols: list[str] | None = None) -> DataFrame:
    """'' → NULL for warehouse writes (reference betl/io/dbIO.py:27-28)."""
    cols = []
    targets = set(string_cols) if string_cols is not None else None
    for field in df.schema.fields:
        if field.dataType.typeName() == "string" and (targets is None or field.name in targets):
            cols.append(
                F.when(F.col(field.name) == "", None)
                .otherwise(F.col(field.name))
                .alias(field.name)
            )
        else:
            cols.append(F.col(field.name))
    return df.select(cols)


def null_to_empty(df: DataFrame) -> DataFrame:
    """NULL → '' on staging entry (reference betl/io/fileIO.py:26-51)."""
    return df.select(
        [
            F.coalesce(F.col(f.name), F.lit("")).alias(f.name)
            if f.dataType.typeName() == "string"
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def write_staged(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Persist a dataset to a staging/warehouse parquet dir.

    ``mode`` ∈ {'overwrite', 'append'} mirrors the reference's
    append_or_replace write arg (betl/dataflow/dfl_io.py:61-212).
    ``partition_by`` is a scale extension the reference cannot express:
    partitioned staging keeps downstream scans pruned at 100 TB.
    """
    _write(df, path, mode, partition_by, "parquet")


def _write(df, path, mode, partition_by, fmt):
    writer = df.write.mode("overwrite" if mode == "replace" else mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a dataset as a BUCKETED catalog table — rows are
    hash-clustered into ``n_buckets`` files per partition by
    ``bucket_cols`` at write time, so every later join or aggregation
    keyed on those columns reads the layout instead of shuffling: the
    planner drops the Exchange on this side entirely (the other side
    shuffles to the bucket count). This is the storage half of the
    incremental-dedup contract: a reference corpus bucketed by
    ``content_hash`` turns the daily batch-vs-corpus anti join into a
    batch-only shuffle — at 100 TB the corpus-side exchange IS the
    job, so the one-time bucketed write amortizes after the first
    ingest. Bucketing requires the catalog (``saveAsTable``), not a
    bare path — Spark persists the bucket spec in table metadata.
    ``sort_cols`` additionally sorts within each bucket file
    (sort-merge joins then skip the sort)."""
    import re

    # the cleanup below computes a filesystem location from the NAME,
    # which is only well-defined for a plain identifier in the default
    # database — a qualified `db.tbl` would rmtree the wrong path and
    # then shadow or break the saveAsTable (advisor finding, round 7)
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table_name):
        raise ValueError(
            f"write_bucketed requires an unqualified table identifier, "
            f"got {table_name!r} (database-qualified or quoted names "
            "would resolve to the wrong storage location on overwrite)"
        )
    eff_mode = "overwrite" if mode == "replace" else mode
    if eff_mode == "overwrite":
        # a managed table from a PREVIOUS session leaves its location
        # behind while the (in-memory) catalog entry is gone; overwrite
        # must win in both worlds. When the catalog DOES know the
        # table, drop the table's ACTUAL location, not the assumed
        # default layout
        spark = df.sparkSession
        import shutil
        from urllib.parse import urlparse

        loc = None
        if spark.catalog.tableExists(table_name):
            # DESCRIBE EXTENDED lists the DATA COLUMNS first, then a
            # '# Detailed Table Information' section; a data column
            # literally named 'Location' would match first and rmtree
            # a bogus relative path (its TYPE string) in the CWD
            # (advisor finding, round 8) — only scan the metadata
            # section below the marker row
            desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}")
            in_meta = False
            for r in desc.collect():
                if r["col_name"].startswith("# Detailed Table"):
                    in_meta = True
                elif in_meta and r["col_name"] == "Location":
                    loc = r["data_type"]
                    break
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        if loc is None:
            wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
            loc = f"{wh.rstrip('/')}/{table_name.lower()}"
        parsed = urlparse(loc)
        if parsed.scheme in ("", "file"):
            shutil.rmtree(parsed.path or loc, ignore_errors=True)
    writer = df.write.mode(eff_mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Export a dataset as newline-delimited JSON (the training-data
    interchange format). Same mode/partitioning contract as
    ``write_staged``; each task writes its partition's records
    independently, so the export parallelizes like any file sink."""
    _write(df, path, mode, partition_by, "json")


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar ORC export — same mode/partitioning contract as
    ``write_staged``; splittable with predicate/projection pushdown on
    re-read, interchangeable with parquet for downstream engines that
    prefer ORC."""
    _write(df, path, mode, partition_by, "orc")


def write_fixed_width(
    df: DataFrame,
    path: str,
    colspecs: list[tuple[str, int, int]],
    mode: str = "overwrite",
) -> None:
    """Fixed-width text export (the FIXEDWIDTH datastore's write half):
    each declared column is cast to string, NULL → '', right-padded to
    its width (and truncated at it — fixed means fixed), concatenated
    in colspec order into one line per row. One codegen projection,
    each task writes its partition independently. ``colspecs`` uses
    the reader's (name, start, width) shape; starts must be
    contiguous (start_i+1 = start_i + width_i) or the layout would
    have undefined gaps — validated here rather than producing a file
    another system misparses."""
    pos = 0
    for name, start, width in colspecs:
        if start != pos:
            raise ValueError(
                f"write_fixed_width: column {name!r} starts at {start}, "
                f"expected {pos} (colspecs must be contiguous)"
            )
        pos = start + width
    line = F.concat(
        *[
            F.rpad(
                F.coalesce(F.col(name).cast("string"), F.lit("")),
                width,
                " ",
            ).substr(1, width)
            for name, _start, width in colspecs
        ]
    ).alias("value")
    df.select(line).write.mode(
        "overwrite" if mode == "replace" else mode
    ).text(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML export through Spark 4's native XML sink (the upstreamed
    spark-xml): one <row_tag> element per record under <root_tag>, one
    file per task like every file sink. NULL fields are omitted
    elements (the XML convention), so a NULL/''-preserving roundtrip
    belongs to staged parquet, not XML interchange."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode("overwrite" if mode == "replace" else mode)
        .save(path)
    )


def write_text_lines(
    df: DataFrame,
    path: str,
    text_col: str = "value",
    mode: str = "overwrite",
) -> None:
    """One-line-per-record text export (the TEXT datastore's write
    half): ``text_col`` cast to string; NULL rows are rejected by the
    sink (a NULL line has no textual representation — coalesce
    upstream if '' is the intent). Embedded newlines would silently
    change the record count on re-read, so they fail the write — via
    an in-row ``raise_error`` guard, not a separate validation scan
    (a pre-scan would read the data twice; this costs one codegen
    branch in the single write pass)."""
    s = F.col(text_col).cast("string")
    # Hadoop's LineRecordReader terminates a line on \n, \r\n, OR a
    # lone \r — so a bare contains("\n") guard would pass a record
    # that still splits on re-read (round-9 advisor item).
    guarded = F.when(
        s.rlike("[\\r\\n]"),
        F.raise_error(
            F.lit(
                f"write_text_lines: {text_col!r} contains embedded "
                "line terminators (\\n or \\r); escape or chunk them "
                "first (line-mode text is one record per line by "
                "definition)"
            )
        ),
    ).otherwise(s)
    df.select(guarded.alias("value")).write.mode(
        "overwrite" if mode == "replace" else mode
    ).text(path)


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
) -> dict:
    """Small-file compaction for a parquet dataset: rewrite ``path``
    with file counts sized to the data (total bytes / target size) —
    the maintenance job every incremental sink eventually needs
    (streaming and per-batch appends accumulate files; at 100 TB a
    million 1 MB files costs more in scan planning and open() round
    trips than the data itself).

    Sizing reads the FILESYSTEM (one listing, no data scan); the
    rewrite is one job through a staging directory with an atomic
    swap at the end (rename), so readers never observe a half-compacted
    dataset; the pre-compaction files survive until the swap succeeds.
    With ``partition_by`` the rewrite re-partitions on those keys so
    Hive-style layouts keep their pruning. Returns
    {files_before, files_after, bytes}.
    """
    import os
    import shutil
    import uuid

    def _list(p):
        out = []
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.join(root, f))
        return out

    before = _list(path)
    total = sum(os.path.getsize(f) for f in before)
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))  # ceil
    df = read_parquet(spark, path)
    staging = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    writer = df.repartition(int(n_files), *(partition_by or [])) if partition_by else df.coalesce(int(n_files))
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staging)
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(old, path)  # roll back: readers keep the original
        raise
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_list(path)),
        "bytes": int(total),
    }
