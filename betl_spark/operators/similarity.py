"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``       — brute-force exact top-k: the correctness
  baseline. Query set broadcast against the corpus; one pass, partial
  top-k per partition via window-free rank on the joined result.
- ``lsh_bucket_topk``   — random-hyperplane LSH: corpus bucketed once by
  sign pattern; queries only score their own bucket. The scale path:
  at 100 TB the scored candidate set shrinks by ~2^n_planes.

Hyperplanes are md5-derived (plane i, dim j → deterministic ±1), so
bucketing is reproducible across runs/engines with no stored model.

Cosine is computed in double with a sequential fold (zip_with +
aggregate) and rounded to 6dp — the rounding makes rank cuts stable
across engines whose float summation might differ in the last ulp.

Performance notes (measured on local[32], 64-dim vectors):
- Every pairwise operator precomputes each row's norm ONCE before the
  join (O(n) work) instead of inside the pair expression (O(pairs)
  work) — identical float result, the norm is the same fold either way.
- The plane projections are emitted as ONE ``F.expr`` string of flat
  left-associative ±element_at sums: constants folded at plan time,
  whole-stage codegen, no per-element lambda dispatch (~17× faster than
  the HOF formulation with an array-literal plane) and a single py4j
  call at plan-build time. The per-pair dot stays a HOF fold — with
  both arrays already materialized it beats the flat form at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from betl_spark.io.readers import local_rows, read_parquet
from betl_spark.operators.util import materialize


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b) -> F.Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _cosine_pre(a, b, norm_a, norm_b) -> F.Column:
    """Cosine with pre-computed norms (see module perf notes)."""
    return F.round(_dot(a, b) / (norm_a * norm_b), 6)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Output: (query_id, neighbor_id, cosine_sim, rank), rank 1..k by
    (sim desc, neighbor_id) — a total order, so results are unique.

    The query side is tiny → broadcast; the corpus is scanned once.
    """
    queries = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    corpus = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.2,
    n_planes: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b) with
    cosine ≥ threshold.

    With ``n_planes``/``dim`` set (the SCALE path), rows are pre-bucketed
    by ``hyperplane_signs`` and only same-bucket pairs are scored: the
    join becomes an equi-join shuffling on the bucket id, candidate
    pairs shrink by ~2^n_planes, and recall is the standard LSH
    trade-off (high-cosine pairs land in the same bucket with high
    probability). Without them, the all-pairs non-equi self-join runs —
    the exact baseline, quadratic, ONLY for small validation scopes.

    Beyond-reference scale operator (the reference has only exact
    row dedup, betl/dataflow/dfl_changeRow.py:23-34)."""
    cols = [
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
    ]
    if n_planes is not None:
        if dim is None:
            raise ValueError("dim is required when n_planes is set")
        cols.append(hyperplane_signs(vec_col, n_planes, dim).alias("bucket"))
    base = df.select(*cols)
    a = base.select(
        *[F.col(c).alias(f"{c}_a") for c in ("id", "v", "nrm")],
        *(["bucket"] if n_planes is not None else []),
    )
    b = base.select(
        *[F.col(c).alias(f"{c}_b") for c in ("id", "v", "nrm")],
        *(["bucket"] if n_planes is not None else []),
    )
    if n_planes is not None:
        joined = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            _cosine_pre(
                F.col("v_a"), F.col("v_b"), F.col("nrm_a"), F.col("nrm_b")
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _plane_signs(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 plane from md5(plane:dim) parity — computed
    driver-side with hashlib (bit-identical to any engine's md5, which
    is how the DuckDB oracle reproduces the buckets)."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[:2], 16) % 2 == 0
        else -1.0
        for j in range(dim)
    ]


def hyperplane_signs(
    vec_col: str, n_planes: int, dim: int, plane_offset: int = 0
) -> F.Column:
    """LSH bucket id: sign bits of dot(vec, plane_i) for md5-derived
    ±1 hyperplanes. Returns a BIGINT bucket in [0, 2^n_planes).

    ``vec_col`` is a column NAME — the whole bucket is built as one SQL
    expression string (see module perf notes). The signed sums are
    left-associative, float-identical to a sequential fold over the
    same terms. ``plane_offset`` shifts the plane seed indices —
    table t of a multi-table LSH index uses offset t·n_planes so its
    planes are independent of every other table's.
    """
    parts = []
    for i in range(n_planes):
        terms = " + ".join(
            f"({'-' if s < 0 else ''}CAST(element_at(`{vec_col}`, {j + 1}) AS DOUBLE))"
            for j, s in enumerate(_plane_signs(plane_offset + i, dim))
        )
        parts.append(f"CASE WHEN ({terms}) > 0 THEN {2 ** i} ELSE 0 END")
    return F.expr("CAST(" + " + ".join(parts) + " AS BIGINT)")


def _seed_cents(df: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]) -> DataFrame:
    """Seed-row centroid model (cell_id, cv, cn) — the deterministic
    stand-in for trained centroids shared by the IVF family (one
    definition so the assignment rule can never diverge between the
    live and the persisted path)."""
    return df.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cell_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )


def _probe_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Shared IVF probe tail: broadcast the (query, cell) set against
    the candidate corpus, score same-cell pairs, rank per query by
    (sim desc, neighbor_id) — one definition for the live and the
    persisted index path."""
    scored = (
        F.broadcast(queries)
        .join(corpus, "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    centroid_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is assigned
    once to its nearest centroid cell; a query scores only the corpus
    of its ``nprobe`` nearest cells. Same output shape as
    ``cosine_topk``.

    Centroids are corpus rows named by id (``centroid_ids``) — a
    deterministic stand-in for trained k-means centroids, so the
    DuckDB oracle can rebuild the identical index with no stored
    model. Swapping in trained centroids changes recall, not the plan
    (``ivf_topk_model`` is this same code against any centroid model —
    e.g. ``kmeans_train``'s — and this function IS that call).
    """
    return ivf_topk_model(
        df, id_col, vec_col, query_ids,
        _seed_cents(df, id_col, vec_col, centroid_ids), k=k, nprobe=nprobe,
    )


def ivf_topk_model(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    cents: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """``ivf_topk`` against an explicit centroid model (cell_id, cv,
    cn) — seed rows (``_seed_cents``) or trained (``kmeans_train``);
    recall changes, the plan does not.

    Scale shape: centroids are tiny → the assignment pass is one
    broadcast join + per-row argmax over |cells| cosines (no shuffle,
    whole-stage codegen). The probe join shuffles on cell_id with
    ~|corpus|/|cells| rows per cell — the classic IVF candidate
    reduction. Cell skew (hot centroids) is AQE's skew-join case.
    """
    rows = df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("_nrm"),
    )
    aw = Window.partitionBy(id_col).orderBy(F.desc("cell_sim"), F.asc("cell_id"))
    assigned = (
        rows.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "_nrm",
            "cell_id",
            _cosine_pre(F.col(vec_col), F.col("cv"), F.col("_nrm"), F.col("cn")).alias(
                "cell_sim"
            ),
        )
        .withColumn("cell_rank", F.row_number().over(aw))
    )
    corpus = assigned.filter(F.col("cell_rank") == 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("_nrm").alias("nn"),
        "cell_id",
    )
    queries = (
        assigned.filter(F.col(id_col).isin(query_ids))
        .filter(F.col("cell_rank") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("_nrm").alias("qn"),
            "cell_id",
        )
    )
    return _probe_topk(queries, corpus, k)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    path: str,
) -> None:
    """One-time IVF index build — the persisted form of ``ivf_topk``'s
    assignment pass (its docstring's "at 100 TB the cell assignment is
    a one-time index build you persist partitioned BY cell_id"): every
    corpus row is assigned to its nearest centroid cell (identical
    argmax rule) and written PARTITIONED BY cell_id with its
    precomputed norm, so every later probe prunes to its nprobe cells'
    files at the SCAN — no assignment recompute, no full-corpus read.
    The centroid rows persist alongside (``<path>/centroids``) so a
    probe session rebuilds nothing.
    """
    cents = _seed_cents(df, id_col, vec_col, centroid_ids)
    if cents.isEmpty():
        # fail FAST with a real message: an index with zero centroids
        # is meaningless (every later probe would be empty), and the
        # symptom otherwise surfaces much later as a cryptic
        # UNABLE_TO_INFER_SCHEMA on the empty partitioned directory.
        # Covers both an empty corpus and centroid ids absent from it.
        raise ValueError(
            "build_ivf_index: none of the centroid_ids exist in the "
            "corpus (empty input or wrong ids) — refusing to write an "
            "empty index"
        )
    # same argmax rule as every other family member — a tiebreak or
    # rounding fix in _assign_cells must apply to the persisted index too
    assigned = _assign_cells(df, id_col, vec_col, cents).drop("cell_sim")
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{path}/corpus"
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index (``build_ivf_index``): identical
    output to ``ivf_topk`` on the same corpus/centroids/params, but the
    corpus side reads ONLY the probed cells' files — the distinct probe
    cell ids (bounded by |queries|·nprobe) are collected and pushed as
    a partition filter, so the scan's PartitionFilters prune everything
    else (plan-pinned in tests). The query-vector lookup is one
    column-pruned pass (id + vector only); the expensive candidate
    join touches nprobe/|cells| of the data, now at the FILE level,
    not just the row level. The scoring/ranking tail is ``_probe_topk``
    — the ONE definition shared with the live path, so a fix there
    applies to both.
    """
    cents = read_parquet(spark, f"{path}/centroids")
    # the query lookup never reads cell_id, so no partition-column cast
    qrows = read_parquet(spark, f"{path}/corpus").filter(
        F.col(id_col).isin(query_ids)
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("_nrm").alias("qn"),
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("cell_sim"), F.asc("cell_id")
    )
    queries = materialize(
        qrows.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "qn",
            "cell_id",
            _cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias(
                "cell_sim"
            ),
        )
        .withColumn("cell_rank", F.row_number().over(qw))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qv", "qn", "cell_id")
    )
    # bounded collect (|queries| x nprobe cell ids) -> LITERAL partition
    # filter, the whole point of the partitioned layout
    probe_cells = sorted({r.cell_id for r in queries.select("cell_id").distinct().collect()})
    corpus = _pruned_index_scan(spark, path, probe_cells).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("_nrm").alias("nn"),
        "cell_id",
    )
    return _probe_topk(queries, corpus, k)


def normalize_vectors(df: DataFrame, vec_col: str, out_col: str | None = None) -> DataFrame:
    """Unit-normalize an embedding column (prerequisite for dot-product
    ANN indexes): the norm is computed ONCE per row in its own column
    before the element transform — embedding it in the lambda would
    re-evaluate the O(dim) aggregate per element, O(dim²)/row (the
    same precompute-the-norm rule as ``_cosine_pre``). No shuffle.

    Zero vectors (norm 0) pass through unchanged rather than dividing
    by zero — division would yield NULL elements (or raise under ANSI
    mode) and silently poison downstream dot products; an unchanged
    zero vector keeps cosine against it at 0, the right answer."""
    tmp = "__nrm_normalize"
    normed = F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col(tmp))
    return (
        df.withColumn(tmp, _norm(F.col(vec_col)))
        .withColumn(
            out_col or vec_col,
            F.when(F.col(tmp) > 0, normed).otherwise(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ),
        )
        .drop(tmp)
    )


def centroid_update(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
) -> DataFrame:
    """One spherical k-means update step — the training loop behind the
    IVF index (`ivf_topk` docstring: "swapping in trained centroids
    changes recall, not the plan"): assign every row to its
    nearest-by-cosine centroid (ONE broadcast argmax pass, no shuffle),
    then recompute each cell's mean vector.

    Output is LONG format (cell_id, pos, centroid_val) — scalar rows,
    engine-agnostic to compare, and the natural shuffle shape: the
    argmax is a ``max_by`` aggregation (map-side combinable — the
    |cells| candidate rows per vector collapse to one BEFORE the
    exchange, no window sort), and the mean aggregates (cell, dim)
    cells with map-side partial averages, so neither exchange ever
    carries the corpus. Iterate: feed the result back as the next
    round's centroids; each round is one scan + two bounded shuffles.
    """
    cents = df.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cell_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    rows = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    # deterministic argmax: max over (sim, -cell_id) struct == highest
    # similarity, lowest cell id on ties — same order the IVF window uses
    assigned = (
        rows.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "cell_id",
            _cosine_pre(F.col(vec_col), F.col("cv"), F.col("_nrm"), F.col("cn")).alias(
                "cell_sim"
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "cell_id", F.struct(F.col("cell_sim"), (-F.col("cell_id")).alias("tb"))
            ).alias("cell_id"),
            F.first(vec_col).alias(vec_col),
        )
    )
    return (
        assigned.select("cell_id", F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("cell_id", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"))
    )


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    bucket. Same output shape as ``cosine_topk`` (rank within bucket).

    Recall < 1.0 by construction; the bucketed join shuffles on the
    bucket id, giving ~|corpus|/2^n_planes candidates per query.

    Measured recall@10 vs the exact baseline (SCALE.md, sf0.1):
    0.38 / 0.23 / 0.14 / 0.05 at 2 / 3 / 4 / 6 planes — SINGLE-table
    sign-LSH pays the classic single-probe cliff as buckets shrink.
    ``multi_probe=True`` is the shipped remedy: also score the buckets
    at Hamming distance 1 from the query's sign pattern (flip each
    plane bit) — 1+n_planes buckets per query, expanded on the
    BROADCAST side only, so the corpus scan and the join shape are
    unchanged while candidates grow ~(1+n_planes)×. Measured (same
    setup): 4 planes 0.14 → 0.51, 6 planes 0.05 → 0.25 — each neighbor
    still appears at most once per query (corpus rows live in exactly
    one bucket). The other standard remedy, L independent OR-ed
    tables, is a union of this plan with shifted plane seeds.
    ``ivf_topk`` remains this engine's primary ANN path (0.72
    recall@10 at nprobe=4, same measurement).
    """
    bucketed = df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("_nrm"),
        hyperplane_signs(vec_col, n_planes, dim).alias("bucket"),
    )
    qbase = bucketed.filter(F.col(id_col).isin(query_ids))
    if multi_probe:
        # probe the query's own bucket plus every bucket at Hamming
        # distance 1 in sign space (flip one plane bit): 1 + n_planes
        # buckets per query. The query side is the broadcast side, so
        # the expansion multiplies the TINY relation — the corpus scan
        # and the join shape are unchanged.
        probes = F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_planes)
                ],
            )
        ).alias("bucket")
        queries = qbase.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("_nrm").alias("qn"),
            probes,
        )
    else:
        queries = qbase.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("_nrm").alias("qn"),
            "bucket",
        )
    corpus = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("_nrm").alias("nn"),
        "bucket",
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cell_pairs_arrow(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Within-cell cosine near-dup pairs via one BLAS matmul per cell —
    the Arrow fast path for ``semantic_dedup``'s verification stage
    (the codegen path's per-pair HOF fold is interpreted, not
    whole-stage-compiled, and dominates the operator at scale).

    ``applyInPandas`` grouped by cell_id: each cell arrives as a
    pandas frame, stacks to an N_c×D float64 matrix, and X·Xᵀ scores
    every pair at BLAS speed — the shape the SemDeDup paper's own
    implementation uses. Memory per task is O(N_c²); cells are bounded
    by the k ∝ n sizing rule (SCALE.md), so this is the same bound the
    candidate count already carries.

    Last-ulp caveat: numpy's pairwise summation can differ from the
    codegen path's sequential fold before the shared 6dp rounding, so
    a pair whose cosine sits exactly on a rounding boundary may differ —
    use the codegen path where bit-exact oracle replay matters.
    Output: (id_a < id_b, cosine_sim ≥ threshold, 6dp).
    """
    import pandas as pd

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(pdf) < 2:
            # empty frame typed from the source id column (not a
            # hardcoded int64) so non-long id columns round-trip
            empty_ids = pdf[id_col].iloc[:0]
            return pd.DataFrame(
                {
                    "id_a": empty_ids,
                    "id_b": empty_ids,
                    "cosine_sim": pd.Series([], dtype="float64"),
                }
            )
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(X, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (X @ X.T) / np.outer(nrm, nrm)
        ids = pdf[id_col].to_numpy()
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = np.round(S[iu, ju], 6)
        # Spark orders NaN ABOVE every double, so the codegen filter
        # keeps NaN-cosine pairs (zero-norm vectors); numpy's NaN >= x
        # is False — match Spark so the backends agree on such corpora
        m = (sims >= threshold) | np.isnan(sims)
        ia, ib = ids[iu[m]], ids[ju[m]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine_sim": sims[m],
            }
        )

    id_type = assigned.schema[id_col].dataType.simpleString()
    return assigned.groupBy("cell_id").applyInPandas(
        score, f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    )


def _trained_cents(
    df: DataFrame, id_col: str, vec_col: str, centroid_ids: list[int]
) -> DataFrame:
    """One k-means update from the seed rows, reshaped to wide vectors:
    (cell_id, cv, cn) — the trained centroid model the assignment
    stages broadcast."""
    return (
        centroid_update(df, id_col, vec_col, centroid_ids)
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cv")
        )
        .select("cell_id", "cv", _norm(F.col("cv")).alias("cn"))
    )


def kmeans_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    iterations: int = 2,
) -> DataFrame:
    """N spherical k-means update rounds from the seed rows — the
    trained centroid model (cell_id, cv, cn) the IVF family's
    docstrings promise ("swapping in trained centroids changes recall,
    not the plan"): feed the result to ``ivf_topk_model`` /
    ``build_ivf_index``-style assignment and the probe plan is
    unchanged while the cells actually fit the data.

    Each round is ``centroid_update``'s exact shape — broadcast-argmax
    assignment (map-side-combinable ``max_by``, the corpus never
    shuffles) then a per-(cell, pos) mean rounded to 6 decimals — so
    round t+1's centroids are short exact decimals and an independent
    engine replaying the same arithmetic lands on the identical model
    (the contract query's DuckDB oracle chains the rounds as CTEs).
    The model itself is collected each round (bounded: ≤ |cells|·dim
    values — the same bounded-model collect as ``classifier_train``'s
    gradient) and re-broadcast, which also keeps the plan depth
    constant across rounds. A cell that captures no rows in some round
    drops out of the model (standard empty-cell behavior; determinism
    is unaffected).
    """
    spark = df.sparkSession
    cents = _seed_cents(df, id_col, vec_col, centroid_ids)
    for _ in range(iterations):
        long_rows = (
            _assign_cells(df, id_col, vec_col, cents)
            .select("cell_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(
                F.round(F.avg(F.col("val").cast("double")), 6).alias("v")
            )
            .collect()
        )
        by_cell: dict = {}
        for r in long_rows:
            by_cell.setdefault(int(r["cell_id"]), {})[int(r["pos"])] = float(
                r["v"]
            )
        model = [
            (cell, [vals[p] for p in sorted(vals)])
            for cell, vals in sorted(by_cell.items())
        ]
        cents = local_rows(
            spark, model, T.StructType.fromDDL("cell_id long, cv array<double>")
        ).select("cell_id", "cv", _norm(F.col("cv")).alias("cn"))
    return cents


# broadcasting the centroid model is safe up to ~10^5-10^6 centroids
# (10^6 x 64 doubles ~ 0.5 GB); past that the single-level argmax stops
# scaling — semantic_dedup raises and semantic_dedup_2level is the path
MAX_BROADCAST_CENTROIDS = 200_000


def _assign_cells(
    df: DataFrame, id_col: str, vec_col: str, cents: DataFrame
) -> DataFrame:
    """Broadcast-argmax cell assignment against a trained centroid
    model: |cells| cosines per row, map-side combinable max_by, the
    corpus never shuffles. Output (id, vec, _nrm, cell_id, cell_sim).

    Degenerate vectors behave identically to ``ivf_topk``'s inline
    row_number assignment (the other primitive of the family, which
    needs rank ≤ nprobe and so can't share this rank-1 aggregate):
    a ZERO-NORM vector raises DIVIDE_BY_ZERO under the engine's ANSI
    session in both paths (fail fast — silently mis-bucketing a bad
    embedding is worse), and a NULL vector yields all-NULL cell_sims,
    which BOTH primitives resolve to the minimum cell_id (struct
    comparison puts NULL first; desc ordering puts it last — either
    way the cell_id tiebreak decides). Pinned by
    tests/test_round8_ops.py so the persisted index and the live probe
    can never diverge on degenerate input."""
    rows = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    return (
        rows.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            vec_col,
            "_nrm",
            "cell_id",
            _cosine_pre(
                F.col(vec_col), F.col("cv"), F.col("_nrm"), F.col("cn")
            ).alias("cell_sim"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "cell_id",
                F.struct(F.col("cell_sim"), (-F.col("cell_id")).alias("tb")),
            ).alias("cell_id"),
            F.first(vec_col).alias(vec_col),
            F.first("_nrm").alias("_nrm"),
            F.max("cell_sim").alias("cell_sim"),
        )
    )


def semantic_decontaminate(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    threshold: float = 0.3,
) -> DataFrame:
    """EMBEDDING-level benchmark decontamination: remove corpus rows
    semantically near ANY benchmark row — the semantic complement of
    the n-gram `decontaminate` family (paraphrased test questions slip
    past lexical n-gram matching; embedding cosine catches them).

    Same candidate-bounding trick as ``semantic_dedup``: both sides
    assign to the SAME trained cells (one k-means update from
    ``centroid_ids`` over the corpus), and cosine only runs on
    same-cell (corpus × bench) pairs — batch×ref, never corpus×corpus,
    and the benchmark side is small by definition so the candidate
    join broadcasts. Contaminated ids reduce to a distinct set and
    remove via anti join. Like IVF nprobe=1, a contaminated row whose
    nearest cell differs from its benchmark twin's is missed — the
    recall/cost trade the cell bound buys; raise k (finer cells) for
    precision, or run the exact n-gram family alongside.

    Output: surviving (id, cell_id) corpus rows, like
    ``semantic_dedup``.
    """
    if len(centroid_ids) > MAX_BROADCAST_CENTROIDS:
        raise ValueError(
            f"{len(centroid_ids)} centroids exceed the single-level "
            f"broadcast bound ({MAX_BROADCAST_CENTROIDS})"
        )
    cents = materialize(_trained_cents(df, id_col, vec_col, centroid_ids))
    assigned = materialize(_assign_cells(df, id_col, vec_col, cents))
    bench_assigned = _assign_cells(bench, id_col, vec_col, cents).select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("bv"),
        F.col("_nrm").alias("bn"),
        "cell_id",
    )
    contaminated = (
        assigned.join(F.broadcast(bench_assigned), "cell_id")
        .filter(
            _cosine_pre(
                F.col(vec_col), F.col("bv"), F.col("_nrm"), F.col("bn")
            )
            >= threshold
        )
        .select(id_col)
        .distinct()
    )
    return assigned.join(contaminated, id_col, "left_anti").select(
        F.col(id_col), F.col("cell_id")
    )


def _cell_pairs(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    pair_salt: int = 8,
) -> DataFrame:
    """Within-cell cosine pair generation shared by the semantic-dedup
    family: same-cell pairs with id_a < id_b and 6dp cosine >=
    threshold — the stage whose byte-identity across variants the
    determinism contract depends on.

    Round-14 shape: the plain EQUI-join on cell_id serializes each
    cell's QUADRATIC pair output onto one reducer — the round-13
    AQE-coalescing lesson verbatim (the blow-up is join OUTPUT rows,
    invisible to map-side byte stats, so adaptive coalescing happily
    collapses the stage to one partition; measured exactly that at
    bench scale, the whole cosine fold single-threaded). AQE's skew
    splitter can't help either: a hot cell is ONE join key. So the
    pairs are grid-decomposed exactly like the linkage module's salted
    self-join: names → ``__u = xxhash64(id) % S``, the left side
    explodes to partner buckets ``__v in u..S-1``, the join runs on
    ``(cell_id, __v)`` over an explicit hash repartition (which AQE
    leaves alone), and every unordered pair meets exactly ONCE —
    off-diagonal cells in one orientation (ids re-ordered via
    least/greatest on emit), diagonal cells ordered by ``id_a <
    id_b``. Per-reducer work for a whale cell drops from |cell|² to
    |cell|²/S² at the cost of replicating the left side (S+1)/2× —
    the standard skewed-self-join trade (guide §2.5), and the cosine
    is arg-order-exact either way because elementwise multiply and
    the left-fold sum are commutative in each slot (pinned by the
    strategy set-equality test). Measured 4-5x on the bench pair
    stage; at 100 TB it is what keeps a boilerplate-dominated cell
    from pinning one executor.
    """
    S = max(1, int(pair_salt))
    spark = assigned.sparkSession
    n_part = max(spark.sparkContext.defaultParallelism, 1)
    u = F.pmod(F.xxhash64(F.col("id_a")), F.lit(S)).cast("int")
    a = (
        assigned.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("_nrm").alias("na"),
            "cell_id",
        )
        .withColumn("__u", u)
        .withColumn(
            "__v", F.explode(F.sequence(F.col("__u"), F.lit(S - 1)))
        )
        .repartition(n_part, "cell_id", "__u", "__v")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_nrm").alias("nb"),
        "cell_id",
    ).withColumn("__v", F.pmod(F.xxhash64(F.col("id_b")), F.lit(S)).cast("int"))
    return (
        a.join(b, ["cell_id", "__v"])
        .filter(
            (
                (F.col("__u") != F.col("__v"))
                | (F.col("id_a") < F.col("id_b"))
            )
            & (F.col("id_a") != F.col("id_b"))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            _cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    threshold: float = 0.3,
    pair_backend: str = "codegen",
    survivor: str = "min_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public): k-means cells bound the candidate space
    so cosine near-dup pairs form only WITHIN a cell, then connected
    components pick one canonical document per duplicate group.

    Composition of stages each proven separately:
    1. one spherical k-means update (``centroid_update``) trains cell
       centroids from the seed rows ``centroid_ids``;
    2. every row is assigned to its nearest trained centroid — a
       broadcast argmax (``max_by`` over |cells| candidates), map-side
       combinable, the corpus never shuffles for assignment;
    3. near-dup pairs are an EQUI-join on cell_id with ``id_a < id_b``
       and 6dp-rounded cosine ≥ ``threshold``: candidates shrink from
       n² to Σ n_cell² — the entire point of SemDeDup at 100 TB;
    4. ``duplicate_clusters`` (O(log n) star contraction) canonicalizes
       pair output into cluster ids;
    5. survivors = each cluster's minimum id + all unpaired rows.

    Survivor policy (``survivor``): the default ``"min_id"`` keeps the
    cluster's minimum id — deterministic, engine-reproducible, and
    consistent with the rest of the dedup ladder (``near_dup_removal``).
    ``"min_centroid_sim"`` is the paper-faithful choice: keep the
    member with the LOWEST cosine to its (trained) cell centroid,
    tiebroken by minimum id. The choice of survivor never changes the
    dedup rate — one row survives per cluster either way.

    Scale guard: the single-level assignment broadcasts the whole
    trained centroid model (and the arrow backend collects it), which
    stops scaling past ~10^5-10^6 centroids under the k ∝ n sizing
    rule; ``len(centroid_ids) > MAX_BROADCAST_CENTROIDS`` raises and
    ``semantic_dedup_2level`` (coarse-quantized two-level assignment)
    is the 10^6-10^7-centroid path. The codegen/arrow ``pair_backend``
    choice applies only to the single-level path.

    Output: (id, cell_id) for every surviving row. Stages 1-2 are lazy
    and recomputed per consuming action — persist the input upstream if
    iterating. The reference has only exact row dedup
    (betl/dataflow/dfl_changeRow.py:23-34); this is a beyond-reference
    scale operator.
    """
    if len(centroid_ids) > MAX_BROADCAST_CENTROIDS:
        raise ValueError(
            f"{len(centroid_ids)} centroids exceed the single-level "
            f"broadcast bound ({MAX_BROADCAST_CENTROIDS}); use "
            "semantic_dedup_2level (coarse-quantized assignment)"
        )
    cents = _trained_cents(df, id_col, vec_col, centroid_ids)
    rows = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    if pair_backend == "arrow":
        # Arrow assignment: the trained centroid model collects to the
        # driver (bounded by k — it IS the index model, the same class
        # of collect as MDM write-back) and each Arrow batch argmaxes
        # against it with one matmul. Tiebreaks replicate the codegen
        # max_by exactly: cosine 6dp HALF_UP (mimicked away-from-zero,
        # numpy's default round is half-even), then the LOWER cell_id.
        import pandas as pd

        cent_rows = sorted(cents.collect(), key=lambda r: r.cell_id)
        cell_ids = [int(r.cell_id) for r in cent_rows]
        cmat = [list(r.cv) for r in cent_rows]
        cnrm = [float(r.cn) for r in cent_rows]

        def assign(it):
            import numpy as np

            C = np.asarray(cmat, dtype=np.float64)
            cn = np.asarray(cnrm, dtype=np.float64)
            ids_arr = np.asarray(cell_ids, dtype=np.int64)
            for pdf in it:
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                nrm = np.linalg.norm(X, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (X @ C.T) / np.outer(nrm, cn)
                S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
                # argmax with lower-cell_id tiebreak: scan cells in
                # ascending id order, strict > keeps the first winner
                best = np.zeros(len(X), dtype=np.int64)
                best_s = S[:, 0].copy()
                for j in range(1, S.shape[1]):
                    m = S[:, j] > best_s
                    best[m] = j
                    best_s[m] = S[m, j]
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        vec_col: pdf[vec_col],
                        "_nrm": nrm,
                        "cell_id": ids_arr[best],
                        "cell_sim": best_s,
                    }
                )

        vec_type = df.schema[vec_col].dataType.simpleString()
        id_type = df.schema[id_col].dataType.simpleString()
        assigned = materialize(
            rows.mapInPandas(
                assign,
                f"{id_col} {id_type}, {vec_col} {vec_type},"
                " _nrm double, cell_id long, cell_sim double",
            )
        )
    else:
        # three consumers read `assigned` (both pair-join sides + the
        # survivor base); without the checkpoint the centroid argmax
        # recomputes per consumer (measured 3x cost at bench scale); at
        # cluster scale one corpus-sized materialization beats three
        # argmax passes.
        assigned = materialize(_assign_cells(df, id_col, vec_col, cents))
    if pair_backend == "arrow":
        # Arrow/BLAS per-cell matmul (see cell_pairs_arrow): same pair
        # set modulo 6dp rounding-boundary ulps, several times faster —
        # the production path; codegen stays the oracle-exact default
        pairs = cell_pairs_arrow(assigned, id_col, vec_col, threshold)
    else:
        pairs = _cell_pairs(assigned, id_col, vec_col, threshold)
    return _pick_survivors(assigned, pairs, id_col, survivor)


def _pick_survivors(
    assigned: DataFrame, pairs: DataFrame, id_col: str, survivor: str
) -> DataFrame:
    """Shared survivor stage of the semantic-dedup family: connected
    components over the pair graph, then one survivor per cluster plus
    all unpaired rows. ``min_id`` keeps the cluster id itself (no extra
    aggregate); ``min_centroid_sim`` (the SemDeDup paper's policy,
    arXiv:2303.09540 §2) keeps the member LEAST similar to its trained
    centroid (tiebreak min id) — one groupBy over cluster members plus
    an equi-join back of the winner map. The winner map is one row per
    duplicate CLUSTER — smaller than the corpus but NOT bounded (a
    100 TB corpus can hold 10^8+ clusters), so the join-back is left to
    AQE's size-based strategy choice rather than a forced broadcast.
    """
    from betl_spark.operators.dedup import duplicate_clusters

    clusters = duplicate_clusters(pairs.select("id_a", "id_b"), edges_unique=True)
    member = assigned.join(
        clusters, assigned[id_col] == clusters["node"], "left"
    )
    if survivor == "min_id":
        return member.filter(
            F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id"))
        ).select(F.col(id_col), F.col("cell_id"))
    if survivor != "min_centroid_sim":
        raise ValueError(
            "survivor must be 'min_id' or 'min_centroid_sim', "
            f"got {survivor!r}"
        )
    winners = (
        member.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                id_col, F.struct(F.col("cell_sim"), F.col(id_col))
            ).alias("__keep")
        )
    )
    return (
        member.join(winners, "cluster_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col(id_col) == F.col("__keep")))
        .select(F.col(id_col), F.col("cell_id"))
    )


def semantic_dedup_2level(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int],
    coarse_ids: list[int],
    threshold: float = 0.3,
    survivor: str = "min_id",
) -> DataFrame:
    """``semantic_dedup`` with IVF-style TWO-LEVEL cell assignment —
    the 10^6-10^7-centroid path the single-level operator's broadcast
    guard points at.

    Under the k ∝ n sizing rule a 100 TB corpus implies ~10^6-10^7
    trained centroids; broadcasting (or driver-collecting) that model
    per row stops scaling past ~10^6 x 64 doubles ≈ 0.5 GB. The
    standard fix (IVF coarse quantization — same structure as Johnson
    et al., "Billion-scale similarity search with GPUs", arXiv
    1702.08734, public) quantizes the CENTROID SET itself:

    1. train fine centroids from ``centroid_ids`` (one k-means update,
       identical to ``semantic_dedup``);
    2. the coarse model = the trained fine centroids whose seed ids
       are in ``coarse_ids`` (⊂ centroid_ids, ~√k of them) — only THIS
       bounded set broadcasts;
    3. every fine centroid is assigned to its nearest coarse cell (a
       k-row argmax — bounded);
    4. every corpus row argmaxes against the broadcast coarse model
       (map-side, corpus never shuffles), then resolves its fine cell
       with an EQUI-join on coarse_id against the fine-centroid table —
       the fine model is distributed by the join, never broadcast as a
       whole, and hot coarse cells are AQE skew-split;
    5. pairs / connected components / survivor selection are byte-for-
       byte the ``semantic_dedup`` stages.

    The assignment is approximate exactly like IVF nprobe=1: a row
    whose true nearest fine centroid lives in a different coarse cell
    lands in its best WITHIN-coarse-cell fine cell instead. That is
    the documented trade for unbounded k — dedup still happens within
    every fine cell, recall of cross-cell near-dups follows the same
    curve as `ivf_topk`'s. Output: (id, cell_id) survivors, like
    ``semantic_dedup``.

    Sizing rule (measured, SCALE.md round-11 second decade): keep
    k_coarse ∝ √k_fine, NOT ∝ k_fine. Step 4's cost is n · k_coarse —
    growing the coarse set linearly with the corpus turns the whole
    operator n^1.5 (sf1→sf3 with coarse ∝ n measured x4.33 on 3x
    data: pairs grew x3, coarse scoring x9). With k_coarse = √k_fine
    the coarse model stays broadcastable to ~10^12 fine centroids;
    past the point where √k itself breaks the broadcast budget, add a
    third level (the same quantization applied to the coarse set).
    """
    missing = set(coarse_ids) - set(centroid_ids)
    if missing:
        raise ValueError(f"coarse_ids must be ⊂ centroid_ids; extra: {missing}")
    # three consumers read the trained model (both coarse broadcasts +
    # the fine-to-coarse argmax); without this the k-means update — a
    # corpus-wide argmax — recomputes per consumer. The model is k rows,
    # so the checkpoint is bounded.
    cents = materialize(_trained_cents(df, id_col, vec_col, centroid_ids))
    coarse = cents.filter(F.col("cell_id").isin(coarse_ids)).select(
        F.col("cell_id").alias("coarse_id"),
        F.col("cv").alias("ccv"),
        F.col("cn").alias("ccn"),
    )
    # fine centroid -> coarse cell (k rows, broadcast-argmax, bounded)
    f2c = (
        cents.crossJoin(F.broadcast(coarse))
        .select(
            "cell_id",
            "cv",
            "cn",
            "coarse_id",
            _cosine_pre(
                F.col("cv"), F.col("ccv"), F.col("cn"), F.col("ccn")
            ).alias("fsim"),
        )
        .groupBy("cell_id")
        .agg(
            F.max_by(
                "coarse_id",
                F.struct(F.col("fsim"), (-F.col("coarse_id")).alias("tb")),
            ).alias("coarse_id"),
            F.first("cv").alias("cv"),
            F.first("cn").alias("cn"),
        )
    )
    # corpus row -> coarse cell: broadcast argmax, map-side only
    rows = df.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    r2c = (
        rows.crossJoin(F.broadcast(coarse))
        .select(
            id_col,
            vec_col,
            "_nrm",
            "coarse_id",
            _cosine_pre(
                F.col(vec_col), F.col("ccv"), F.col("_nrm"), F.col("ccn")
            ).alias("csim"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "coarse_id",
                F.struct(F.col("csim"), (-F.col("coarse_id")).alias("tb")),
            ).alias("coarse_id"),
            F.first(vec_col).alias(vec_col),
            F.first("_nrm").alias("_nrm"),
        )
    )
    # corpus row -> fine cell WITHIN its coarse cell: equi-join on
    # coarse_id (the fine model is distributed by the join — this is
    # the step that removes the whole-model broadcast), then argmax
    assigned = materialize(
        r2c.join(f2c, "coarse_id")
        .select(
            id_col,
            vec_col,
            "_nrm",
            "cell_id",
            _cosine_pre(
                F.col(vec_col), F.col("cv"), F.col("_nrm"), F.col("cn")
            ).alias("cell_sim"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                "cell_id",
                F.struct(F.col("cell_sim"), (-F.col("cell_id")).alias("tb")),
            ).alias("cell_id"),
            F.first(vec_col).alias(vec_col),
            F.first("_nrm").alias("_nrm"),
            F.max("cell_sim").alias("cell_sim"),
        )
    )
    pairs = _cell_pairs(assigned, id_col, vec_col, threshold)
    return _pick_survivors(assigned, pairs, id_col, survivor)


def _subspace_explode(vec_col: str, n_sub: int, dim: int):
    """posexplode of the vector's n_sub contiguous slices — ONE scan
    yields (subspace, sub) rows, where a per-subspace select/union loop
    would scan the input n_sub times."""
    d_sub = dim // n_sub
    return F.posexplode(
        F.array(
            *[
                F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
                for j in range(n_sub)
            ]
        )
    ).alias("subspace", "sub")


def pq_codebook(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codeword_ids: list[int],
    n_sub: int,
    dim: int,
) -> DataFrame:
    """Product-quantization codebook (Jégou et al. 2011, public: split
    the vector into ``n_sub`` subspaces, quantize each against its own
    small codeword set): (subspace, codeword, subvec) rows taken from
    the ``codeword_ids`` seed rows — the same deterministic seeding rule
    as the IVF index (swap in trained sub-centroids for recall, the
    plan does not change). Size is n_sub·|codewords| rows — broadcast
    material at any corpus scale.
    """
    if dim % n_sub != 0:
        raise ValueError(f"n_sub={n_sub} must divide dim={dim}")
    cw_idx = F.create_map(
        *[F.lit(x) for cid, i in ((c, i) for i, c in enumerate(codeword_ids)) for x in (cid, i)]
    )
    return df.filter(F.col(id_col).isin(codeword_ids)).select(
        F.element_at(cw_idx, F.col(id_col)).alias("codeword"),
        _subspace_explode(vec_col, n_sub, dim),
    ).select("subspace", "codeword", F.col("sub").alias("subvec"))


def _l2sq_nanos(a, b) -> F.Column:
    """9dp-rounded squared L2 distance as exact integer nano-units —
    engine-identical (see the dsir_scores determinism note)."""
    d = F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.round(F.round(d, 9) * F.lit(1e9)).cast("long")


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codeword_ids: list[int],
    n_sub: int,
    dim: int,
    cb: DataFrame | None = None,
) -> DataFrame:
    """PQ encoding: each vector compresses to ``n_sub`` small codes —
    the nearest codeword per subspace (squared-L2, ties to the lower
    codeword index). 64 floats become 4 bytes-ish of codes; at 100 TB
    this is the representation the ANN index actually stores.

    Scale shape: the codebook broadcasts; per row the work is
    n_sub·|codewords| subvector distances (pure column HOFs); the only
    shuffles carry (id, subspace, code) triples into the per-row code
    array. Output: (id, codes array<int> ordered by subspace).
    """
    if cb is None:
        cb = pq_codebook(df, id_col, vec_col, codeword_ids, n_sub, dim)
    rows = df.select(
        F.col(id_col), _subspace_explode(vec_col, n_sub, dim)
    ).select(id_col, "subspace", F.col("sub").alias("rowsub"))
    scored = rows.join(F.broadcast(cb), "subspace").select(
        id_col,
        "subspace",
        "codeword",
        _l2sq_nanos(F.col("rowsub"), F.col("subvec")).alias("d2n"),
    )
    best = scored.groupBy(id_col, "subspace").agg(
        F.min_by("codeword", F.struct("d2n", "codeword")).alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    codeword_ids: list[int],
    n_sub: int,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance PQ search: approximate top-k neighbors per
    query using only the compressed codes. The per-query distance
    TABLE (query-subvector to every codeword: |queries|·n_sub·|codes|
    rows) broadcasts; each encoded row's approximate distance is a
    code-array lookup-sum — no full-vector math touches the corpus at
    query time, which is the entire point of PQ at scale.

    Determinism: per-subspace distances are exact integer nano-units,
    the per-row sum is an order-free BIGINT sum, and the final top-k
    runs through the WindowGroupLimit-pruned rank (see
    ``stats.top_n_per_group``). Output: (query_id, neighbor_id,
    approx_dist 6dp, rank), self-matches excluded.
    """
    from betl_spark.operators.stats import top_n_per_group
    from betl_spark.operators.util import round6_nanos_ratio_expr

    cb = pq_codebook(df, id_col, vec_col, codeword_ids, n_sub, dim)
    qrows = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            _subspace_explode(vec_col, n_sub, dim),
        )
        .select("query_id", "subspace", F.col("sub").alias("qsub"))
    )
    table = qrows.join(F.broadcast(cb), "subspace").select(
        "query_id",
        "subspace",
        "codeword",
        _l2sq_nanos(F.col("qsub"), F.col("subvec")).alias("d2n"),
    )
    # one codebook subplan shared with the encoder (no recompute)
    encoded = pq_encode(df, id_col, vec_col, codeword_ids, n_sub, dim, cb=cb)
    code_rows = encoded.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "codeword"),
    )
    scored = (
        code_rows.join(F.broadcast(table), ["subspace", "codeword"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2n").alias("__d2n"))
        .select(
            "query_id",
            "neighbor_id",
            round6_nanos_ratio_expr("__d2n").alias("approx_dist"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return top_n_per_group(
        scored, ["query_id"], "approx_dist", k, "neighbor_id", ascending=True
    ).select("query_id", "neighbor_id", "approx_dist", "rank")


def cross_group_near_dups(
    df: DataFrame,
    meta: DataFrame,
    id_col: str,
    vec_col: str,
    group_col: str,
    centroid_ids: list[int],
    threshold: float = 0.3,
) -> DataFrame:
    """Cross-GROUP semantic near-duplicate pairs — with ``group_col`` =
    language this is cross-lingual near-dup detection, the way modern
    systems actually do it: a multilingual embedding space IS the
    translation-invariant feature (LASER/CCMatrix mine parallel and
    duplicated text by embedding-space neighborhood — Artetxe &
    Schwenk 2019, Schwenk et al. 2021, public), so "the same document
    in two languages" is a high-cosine pair whose metadata groups
    differ. Other groupings matter too: ``group_col`` = source finds
    cross-site mirror/syndication duplication that same-source dedup
    never sees.

    Composition of proven stages: trained-cell assignment + within-cell
    cosine pairs are byte-for-byte ``semantic_dedup``'s stages 1-3
    (broadcast argmax, equi-join on cell_id, id_a < id_b, 6dp cosine ≥
    ``threshold``); the pair set then joins the metadata on each side
    and keeps pairs whose groups DIFFER. NULL groups never match: the
    ``group_a != group_b`` filter is three-valued, so a NULL-group doc
    pairs with nothing (same rule in the SQL oracle by construction).

    Scale shape: everything up to the pair set is the semantic_dedup
    plan (corpus never shuffles for assignment, candidates bounded by
    Σ n_cell²); the metadata joins are id-keyed equi-joins on the PAIR
    set (already threshold-pruned, far smaller than the corpus), left
    to AQE's size-based strategy. Output: (id_a, id_b, group_a,
    group_b, cosine_sim).
    """
    cents = _trained_cents(df, id_col, vec_col, centroid_ids)
    assigned = materialize(_assign_cells(df, id_col, vec_col, cents))
    pairs = _cell_pairs(assigned, id_col, vec_col, threshold)
    a = meta.select(
        F.col(id_col).alias("id_a"), F.col(group_col).alias("group_a")
    )
    b = meta.select(
        F.col(id_col).alias("id_b"), F.col(group_col).alias("group_b")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("group_a") != F.col("group_b"))
        .select("id_a", "id_b", "group_a", "group_b", "cosine_sim")
    )


def _pruned_index_scan(spark, index_path: str, cells: list) -> DataFrame:
    """Partition-pruned read of a ``build_ivf_index`` corpus: the
    literal cell-id list pushes down as PartitionFilters, so only the
    probed cells' FILES are touched (plan-pinned in
    tests/test_round8_ops.py) — shared by the indexed probe and the
    incremental-dedup path. cell_id comes back cast to long (it is a
    partition directory column, read as int by default)."""
    return (
        read_parquet(spark, f"{index_path}/corpus")
        .filter(F.col("cell_id").isin([int(c) for c in cells]))
        .withColumn("cell_id", F.col("cell_id").cast("long"))
    )


def semantic_dedup_incremental(
    spark,
    batch: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
) -> DataFrame:
    """Daily-ingest semantic dedup against a PERSISTED indexed corpus —
    the embedding-level counterpart of the bucketed exact-dedup story
    (``dedup_bloom_bucketed``): the reference corpus was embedded,
    cell-assigned and written ONCE (``build_ivf_index`` — partitioned
    by cell_id with precomputed norms); each incoming batch then
    drops (a) rows with a cosine-≥-threshold neighbor in the corpus,
    and (b) within-batch near-dups (min-id survivor per cluster,
    ``semantic_dedup``'s exact survivor stage).

    Scale shape — the three properties that make this the 100 TB
    daily-ingest plan:
    - the corpus is NEVER self-joined and NEVER re-shuffled: the only
      corpus work is a scan of the batch's cells' files — the distinct
      batch cell ids (bounded by the CENTROID count, the same class as
      ``ivf_topk_indexed``'s probe collect) push down as a literal
      partition filter;
    - batch×corpus candidates form per cell (equi-join, AQE skew-split
      for hot cells), never batch×corpus cross;
    - within-batch work is ``semantic_dedup`` stages 3-5 on the
      already-corpus-filtered remainder.

    Output: surviving batch rows (id, cell_id). The batch itself can
    then be appended to the index (one partitioned write) — the
    ingest loop closes without ever touching the accumulated corpus.
    """
    cents = read_parquet(spark, f"{index_path}/centroids")
    assigned = materialize(_assign_cells(batch, id_col, vec_col, cents))
    # bounded collect: |batch cells| ≤ |centroids| — the literal
    # partition filter is the point of the partitioned index layout
    cells = sorted(
        r.cell_id for r in assigned.select("cell_id").distinct().collect()
    )
    corpus = _pruned_index_scan(spark, index_path, cells).select(
        F.col(vec_col).alias("__cv"),
        F.col("_nrm").alias("__cn"),
        "cell_id",
    )
    contaminated = (
        assigned.join(corpus, "cell_id")
        .filter(
            _cosine_pre(
                F.col(vec_col), F.col("__cv"), F.col("_nrm"), F.col("__cn")
            )
            >= threshold
        )
        .select(id_col)
        .distinct()
    )
    fresh = materialize(assigned.join(contaminated, id_col, "left_anti"))
    pairs = _cell_pairs(fresh, id_col, vec_col, threshold)
    return _pick_survivors(fresh, pairs, id_col, "min_id")


def append_to_ivf_index(
    spark,
    batch: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
) -> None:
    """Close the ingest loop: assign a (deduplicated) batch to its
    cells against the index's OWN stored centroids and append the rows
    into the corpus partitions — one partitioned write, the
    accumulated corpus untouched. The next day's
    ``semantic_dedup_incremental`` then sees today's survivors with no
    rebuild (the assignment rule is the index's, so appended rows land
    in exactly the cells later probes prune to)."""
    cents = read_parquet(spark, f"{index_path}/centroids")
    assigned = _assign_cells(batch, id_col, vec_col, cents).drop("cell_sim")
    assigned.write.mode("append").partitionBy("cell_id").parquet(
        f"{index_path}/corpus"
    )


def lsh_multitable_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 2,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k with L independent OR-ed LSH tables — the
    second standard recall remedy (table t's planes use seed offset
    t·n_planes, so the tables are independent; a true neighbor is
    missed only if it hash-splits from the query in EVERY table:
    miss ≈ miss_single^L). ``multi_probe`` composes: each table also
    probes its Hamming-1 buckets.

    Scale shape: the corpus computes ALL tables' buckets in one
    codegen pass and explodes to (table, bucket) keys — L rows per
    corpus row, the inherent cost of L indexes — feeding ONE broadcast
    join against the (tiny, expanded) query key set. A pair matching
    in several tables is scored per match (map-side, deterministic
    6dp cosine) and collapsed by DISTINCT before ranking — the
    de-dup exchange carries candidate pairs, never the corpus.
    Output shape: ``cosine_topk``'s (query_id, neighbor_id,
    cosine_sim, rank).
    """
    buckets = [
        hyperplane_signs(
            vec_col, n_planes, dim, plane_offset=t * n_planes
        ).alias(f"__b{t}")
        for t in range(n_tables)
    ]
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        _norm(F.col(vec_col)).alias("_nrm"),
        *buckets,
    )
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"), F.col(f"__b{t}").alias("b")
                )
                for t in range(n_tables)
            ]
        )
    ).alias("__tb")
    corpus = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("_nrm").alias("nn"),
        tb,
    ).select(
        "neighbor_id",
        "nv",
        "nn",
        F.col("__tb")["t"].alias("t"),
        F.col("__tb")["b"].alias("b"),
    )
    if multi_probe:
        probes = F.explode(
            F.flatten(
                F.array(
                    *[
                        F.array(
                            F.struct(
                                F.lit(t).alias("t"),
                                F.col(f"__b{t}").alias("b"),
                            ),
                            *[
                                F.struct(
                                    F.lit(t).alias("t"),
                                    F.col(f"__b{t}")
                                    .bitwiseXOR(F.lit(1 << i))
                                    .alias("b"),
                                )
                                for i in range(n_planes)
                            ],
                        )
                        for t in range(n_tables)
                    ]
                )
            )
        ).alias("__tb")
    else:
        probes = tb
    queries = (
        base.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col("_nrm").alias("qn"),
            probes,
        )
        .select(
            "query_id",
            "qv",
            "qn",
            F.col("__tb")["t"].alias("t"),
            F.col("__tb")["b"].alias("b"),
        )
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre(
                F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
            ).alias("cosine_sim"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_norm_stats(
    df: DataFrame,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Per-label embedding-norm audit (n, avg/min/max L2 norm) — the
    first sanity screen over an embedding drop: a collapsed encoder,
    an unnormalized batch, or a zero-vector run shows up as a norm
    distribution shift long before any ANN metric moves.

    Per-row norm² is a fixed-order array fold (``aggregate`` — the
    engine-exact pattern the cosine family is pinned on); the
    CROSS-ROW average must not sum raw doubles (order-dependent), so
    each row's norm rounds to 9dp integer nanos and the label sum is
    exact. NULL embeddings are excluded. Output: (label, n,
    avg_norm 6dp, min_norm 6dp, max_norm 6dp).
    """
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc
            + x.cast("double") * x.cast("double"),
        )
    )
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(label_col).alias("label"), norm.alias("__norm")
    )
    nanos = F.round(F.round(F.col("__norm"), 9) * F.lit(1e9)).cast("long")
    agg = base.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(nanos).alias("__s"),
        F.min("__norm").alias("__mn"),
        F.max("__norm").alias("__mx"),
    )
    return agg.select(
        "label",
        "n",
        F.round(
            F.col("__s").cast("double")
            / F.lit(1e9)
            / F.col("n").cast("double"),
            6,
        ).alias("avg_norm"),
        F.round("__mn", 6).alias("min_norm"),
        F.round("__mx", 6).alias("max_norm"),
    )


def embedding_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` farthest-from-centroid rows per label — the
    mislabeled/contaminated-cluster screen over an embedding table
    (the rows a curation pass sends to review first).

    Centroids are exact: each component rounds to 9dp integer nanos,
    sums per (label, position) — order-independent — and divides once
    (the kmeans_train discipline). The per-label centroid re-assembles
    into an ARRAY (sorted collect over ≤ dim rows), broadcasts (one
    row per label), and each row's distance² is a fixed-order zip
    fold over (x − c)² — identical IEEE terms in both engines. Top-k
    per label is a label-partitioned row_number (never global), ties
    broken on id. Output: (label, id, dist 6dp) — k·|labels| rows.
    """
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("__v"),
    )
    comps = base.select(
        "label",
        F.posexplode("__v").alias("__pos", "__x"),
    ).select(
        "label",
        "__pos",
        F.round(F.round(F.col("__x").cast("double"), 9) * F.lit(1e9))
        .cast("long")
        .alias("__xn"),
    )
    cent = (
        comps.groupBy("label", "__pos")
        .agg(F.sum("__xn").alias("__s"), F.count(F.lit(1)).alias("__n"))
        .select(
            "label",
            "__pos",
            (
                F.col("__s").cast("double")
                / (F.col("__n").cast("double") * F.lit(1e9))
            ).alias("__c"),
        )
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__pos", "__c"))),
            lambda s: s["__c"],
        ).alias("__cent")
    )
    dist = base.join(F.broadcast(cent_arr), "label").select(
        "label",
        "__id",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "__v",
                    "__cent",
                    lambda x, c: (x.cast("double") - c)
                    * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ).alias("__d"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("__d").desc(), F.col("__id").asc()
    )
    return (
        dist.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(k))
        .select(
            "label",
            F.col("__id").alias(id_col),
            F.round("__d", 6).alias("dist"),
        )
    )
