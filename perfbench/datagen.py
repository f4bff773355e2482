"""Seeded input generator.

Derives one benchmark input set from a committed base dataset
(``perfbench/data/<base>/*.parquet``, a copy of the repository's
TPC-H-style star schema plus the ``events``, ``documents`` and
``embeddings`` tables) with DuckDB. The same seed always gives the same
files; different seeds give inputs of the same size and shape:

- key values are shuffled: each key family (a primary key and the
  foreign keys that reference it) is mapped through one seeded
  permutation of its own values, so every join matches as in the base
  while a query's fixed key predicates (``l_orderkey < 5000``,
  ``c_custkey % 10``) pick other rows, about as many. Document ids stay:
  ``semantic_dedup`` seeds its cells from fixed ``vec_id`` values and
  compares pairs within a cell, so moving those ids would change the
  amount of work from seed to seed, not just which rows do it;
- row order is permuted by a seeded hash, so no query can lean on the
  order its input was written in; events stay in time order;
- about a tenth of the documents (which ones depends on the seed) have
  their letters rotated, as ``scripts/make_scale_data.py`` does for its
  replicas; rotating every document would leave no stopwords and empty
  the quality filters;
- event timestamps move by a seed-chosen whole number of weeks, which
  keeps weekday and hour-of-day structure.

TPC-H dates are left alone: the TPC-H queries filter on fixed dates.
"""

from __future__ import annotations

import os
import random
import string

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# key family -> the (table, column) pairs that hold its values
KEY_FAMILIES = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "supp": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "ord": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
}


def _rotation(r: int) -> tuple[str, str]:
    low, up = string.ascii_lowercase, string.ascii_uppercase
    return low + up, low[r:] + low[:r] + up[r:] + up[:r]


def generate(base_dir: str, out_dir: str, seed: int) -> None:
    """Write the input set for ``seed`` to ``out_dir``."""
    import duckdb

    rng = random.Random(seed)
    week_shift = rng.choice([w for w in range(-52, 53) if w])
    src, dst = _rotation(rng.randrange(1, 26))

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW base_{t} AS SELECT * FROM '{base_dir}/{t}.parquet'")
        mapped = {}  # (table, column) -> map table
        for fam, cols in KEY_FAMILIES.items():
            values = " UNION ".join(f"SELECT {c} AS k FROM base_{t}" for t, c in cols)
            con.execute(
                f"CREATE TEMP TABLE map_{fam} AS "
                f"WITH k AS (SELECT DISTINCT k FROM ({values}) WHERE k IS NOT NULL) "
                f"SELECT a.k AS old, b.k AS new FROM "
                f"(SELECT k, row_number() OVER (ORDER BY k) AS i FROM k) a JOIN "
                f"(SELECT k, row_number() OVER (ORDER BY hash(k, {seed}), k) AS i FROM k) b "
                f"USING (i)"
            )
            for tc in cols:
                mapped[tc] = f"map_{fam}"
        for t in TABLES:
            cols = [c[0] for c in con.execute(f"DESCRIBE base_{t}").fetchall()]
            exprs, joins = [], []
            for c in cols:
                if (t, c) in mapped:
                    m = f"m{len(joins)}"
                    joins.append(f"LEFT JOIN {mapped[t, c]} {m} ON b.{c} = {m}.old")
                    exprs.append(f"{m}.new AS {c}")
                elif t == "events" and c == "ts":
                    exprs.append(f"b.ts + INTERVAL ({week_shift * 7}) DAY AS ts")
                elif t == "documents" and c == "text":
                    exprs.append(
                        f"CASE WHEN hash(b.doc_id, {seed}) % 10 = 0 "
                        f"THEN translate(b.text, '{src}', '{dst}') ELSE b.text END AS text"
                    )
                else:
                    exprs.append(f"b.{c}")
            # __rn pins the base order before the seeded shuffle, so the
            # permutation depends on the seed alone; an event log stays in
            # time order, as streams read it (a shuffled one would turn
            # most events into late data behind the watermark)
            order = "ts, event_id" if t == "events" else f"hash(b.__rn, {seed})"
            con.execute(
                f"COPY (SELECT {', '.join(exprs)} FROM "
                f"(SELECT *, row_number() OVER () AS __rn FROM base_{t}) b "
                f"{' '.join(joins)} ORDER BY {order}) "
                f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
