"""Dimension & fact load engine — surrogate keys and key lookups
(reference betl/defaultdataflows/stageLoad.py).

This replaces the reference's Postgres-SERIAL machinery (truncate →
COPY → read table back to harvest generated keys,
stageLoad.py:184-316) with a deterministic distributed assignment:

**SK assignment** = dense sequential longs in natural-key order.
A naive ``row_number() OVER (ORDER BY nk)`` forces the whole dimension
through ONE partition — fine at 60k rows, a bottleneck at 100M. Instead
the dimension is range-partitioned and sorted by the NK (the machinery
of a distributed ORDER BY), and Spark's own distributed sequence
(``AttachDistributedSequence``, the zipWithIndex behind pandas-on-Spark's
default index) numbers the sorted partitions in order. The result equals
``row_number() OVER (ORDER BY nk)`` — which is exactly what the DuckDB
oracle runs — and building the plan launches no Spark job.

**Fact FK resolution** (stageLoad.py:361-409) = per-FK broadcast left
join against the dim's SK/NK map, unmatched → −1. Dim key maps are
orders of magnitude smaller than facts, so each lookup is a broadcast
hash join: the 100 TB fact table never shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.internal import InternalFunction

from betl_spark.dataflow.audit import collapse_audit_cols_to_nk
from betl_spark.io.readers import local_rows, read_staged
from betl_spark.io.writers import write_staged
from betl_spark.schema.registry import Table

MISSING_SK = -1
UNRECOGNISED_SK = -2


def assign_surrogate_keys(
    df: DataFrame,
    sk_col: str,
    order_cols: list[str],
    offset: int | Column = 0,
) -> DataFrame:
    """Dense sequential SKs in ``order_cols`` order, starting at
    ``offset + 1`` (Postgres SERIAL parity: stageLoad.py:184-316,
    ColumnClass.py:29-31). ``order_cols`` must be a unique key or
    numbering within ties is undefined — same caveat as any ORDER BY.
    ``offset`` may be a Column (e.g. a scalar ``max(sk)`` subquery), so
    an incremental load needs no driver round trip.

    One range shuffle, no single-reducer stage, no job at plan build:
    range partitions are ordered (AQE only coalesces contiguous ones)
    and sorted within, so the distributed sequence — partition index
    first, then row order — is the global key order.
    ``AttachDistributedSequenceExec`` persists the sorted rows for its
    count pass, releases them when the query ends, and a retried task
    re-reads the same rows.
    """
    ranged = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    sk = F.lit(offset).cast("long") + InternalFunction.distributed_sequence_id() + 1
    return ranged.select(sk.alias(sk_col), *df.columns)


def default_rows_df(spark, schema: T.StructType, sk_col: str, rows: list[dict]) -> DataFrame:
    """Build the negative-SK default rows (−1 MISSING, −2 UNRECOGNISED;
    reference stageLoad.py:76-93 + dmDate.py:101-129). Unspecified
    string columns get the row's description, others null.

    Built with ``local_rows``: a JVM-side local relation of exactly
    ``schema``, so the union with the dimension runs no Python tasks."""
    out_rows = []
    for spec in rows:
        vals = []
        for f in schema.fields:
            if f.name == sk_col:
                vals.append(int(spec[sk_col]))
            elif f.name in spec:
                vals.append(spec[f.name])
            elif f.dataType.typeName() == "string":
                vals.append(spec.get("_label"))
            else:
                vals.append(None)
        out_rows.append(tuple(vals))
    return local_rows(spark, out_rows, schema)


def sk_nk_map(dim: DataFrame, sk_col: str, nk_cols: list[str]) -> DataFrame:
    """The dim's key map: (sk, '_'-concatenated nk)
    (reference stageLoad.py:270-328 builds this by re-reading the table
    from Postgres; here it is a projection of the loaded dim)."""
    return dim.select(
        F.col(sk_col).alias("sk"),
        F.concat_ws(
            "_", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in nk_cols]
        ).alias("nk"),
    )


def bulk_load_dimension(pipeline, table: Table, default_rows: list[dict] | None = None) -> None:
    """Truncate-and-reload a dimension (reference stageLoad.py:184-316):
    LOD staging → typed columns → SK assignment from 1 → default rows
    appended with negative SKs → BSE write → SK/NK map of the written
    table staged to LOD as ``sk_<dim>`` for the fact loads."""
    spark = pipeline.spark
    sk = table.sk_col
    nks = [c.name for c in table.nk_cols]
    if sk is None or not nks:
        raise ValueError(f"dimension {table.name} needs a Surrogate key and Natural key")
    staged = read_staged(spark, pipeline.conf.layer_path("LOD", table.name), all_string=True)
    # typed warehouse columns (SURVEY §1.2 boundary)
    typed_cols = []
    for col in table.columns:
        if col.is_sk:
            continue
        if col.name not in staged.columns:
            continue
        src = F.when(F.col(col.name) == "", None).otherwise(F.col(col.name))
        typed_cols.append(src.cast(col.to_struct_field().dataType).alias(col.name))
    dim = staged.select(typed_cols)
    dim = assign_surrogate_keys(dim, sk.name, nks)
    if default_rows is None:
        default_rows = [
            {sk.name: MISSING_SK, "_label": "MISSING"},
            {sk.name: UNRECOGNISED_SK, "_label": "UNRECOGNISED"},
        ]
    dim = dim.unionByName(default_rows_df(spark, dim.schema, sk.name, default_rows))
    bse_path = pipeline.conf.layer_path("BSE", table.name)
    write_staged(dim, bse_path)
    # the key map is read back from the table just written, as the
    # reference does, so the two writes agree without caching ``dim``
    write_staged(
        sk_nk_map(read_staged(spark, bse_path, all_string=False), sk.name, nks),
        pipeline.conf.layer_path("LOD", f"sk_{table.name}"),
    )


def resolve_fact_fks(
    fact: DataFrame,
    fk_maps: dict[str, DataFrame],
    drop_nk_cols: bool = True,
) -> DataFrame:
    """Resolve each fact FK against its dim SK/NK map with a broadcast
    left join; unmatched NKs → −1 (reference stageLoad.py:361-409).

    ``fk_maps``: fk column name → map DataFrame with (sk, nk) columns;
    the fact must carry the matching ``nk_<suffix>`` column.
    """
    out = fact
    for fk_col, m in fk_maps.items():
        nk_col = "nk_" + fk_col.removeprefix("fk_")
        renamed = m.select(F.col("sk").alias(fk_col), F.col("nk").alias(nk_col))
        out = out.join(F.broadcast(renamed), on=nk_col, how="left")
        out = out.withColumn(fk_col, F.coalesce(F.col(fk_col), F.lit(MISSING_SK)))
        if drop_nk_cols:
            out = out.drop(nk_col)
    return out


def bulk_load_fact(pipeline, table: Table) -> None:
    """Truncate-and-reload a fact (reference stageLoad.py:331-430):
    LOD staging → audit cols collapsed to nk_audit → per-FK broadcast
    SK lookup (−1 fallback) → typed measure columns → BSE write."""
    spark = pipeline.spark
    staged = read_staged(spark, pipeline.conf.layer_path("LOD", table.name), all_string=True)
    staged = collapse_audit_cols_to_nk(staged)
    fk_maps = {}
    for fk in table.fk_cols:
        dim = fk.fk_dimension or ("dm_" + fk.name.removeprefix("fk_"))
        map_path = pipeline.conf.layer_path("LOD", f"sk_{dim}")
        if not os.path.exists(map_path):
            # dim not loaded (e.g. dm_audit skipped): every NK is
            # unmatched and resolves to −1, like the reference's
            # missing-key fallback (stageLoad.py:399-404)
            m = local_rows(
                spark, [], T.StructType([T.StructField("sk", T.LongType()), T.StructField("nk", T.StringType())])
            )
        else:
            m = read_staged(spark, map_path, all_string=False)
        fk_maps[fk.name] = m.select(
            F.col("sk").cast("long").alias("sk"), F.col("nk").cast("string").alias("nk")
        )
    fact = resolve_fact_fks(staged, fk_maps)
    typed_cols = []
    for col in table.columns:
        if col.name not in fact.columns:
            continue
        if col.is_fk:
            typed_cols.append(F.col(col.name).cast("long").alias(col.name))
        else:
            src = F.when(F.col(col.name) == "", None).otherwise(
                F.col(col.name).cast("string")
            )
            typed_cols.append(src.cast(col.to_struct_field().dataType).alias(col.name))
    write_staged(fact.select(typed_cols), pipeline.conf.layer_path("BSE", table.name))
