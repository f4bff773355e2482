"""Record linkage / entity resolution: blocked fuzzy matching, in two
complementary shapes —

1. record-vs-CATALOG (``link_records``, round 11): resolve a large
   dirty-record stream against a bounded master catalog (the MDM
   "match incoming records to the golden dimension" stage, and the
   training-data "merge noisy source catalogs / author-title dedup"
   stage). Deliberately LINEAR, not all-pairs: candidates come from
   multi-pass blocking (each side emits a small set of tagged keys; a
   pair is a candidate iff they share one), and the only edit
   distances computed are record x (masters in its blocks). The master
   catalog of a real linkage job is bounded (10^5-10^7 golden entities
   — megabytes once keyed), so the exploded master-key table is ALWAYS
   broadcast: at 100 TB the record side never shuffles to find its
   candidates; the single shuffle in the pipeline is the per-record
   argmin.

2. record-vs-RECORD (``canonicalize_names`` / ``fuzzy_join_blocked``,
   round 9): all near-duplicate name pairs within a block. The naive
   alternative — a cross join with an edit-distance filter — is O(n²)
   rows through the shuffle and is exactly the shape that dies first
   at 100 TB; blocking bounds candidate pairs to Σ|block|², which the
   block key's selectivity controls.

Cross-engine determinism (the DuckDB oracle mirrors every expression):
- ``levenshtein`` is classic unit-cost edit distance in BOTH engines —
  an exact INTEGER, so distances, thresholds, and similarity bands
  never touch a double until the final integer-micros render;
- normalization is lower(trim(...)) only — no locale-dependent
  folding;
- the best-master tie-break is (distance, master_id): total order,
  master_id unique;
- similarity bands are computed from integers:
  band = least(9, (10 * (maxlen - dist)) DIV maxlen).

Reference parity note: the reference engine (betl) has no fuzzy-match
stage (its MDM join in ``betl/dataflow/dfl_mdm.py`` is exact-key) —
this module is part of the beyond-reference training-data surface,
alongside dedup/similarity/web-curation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from betl_spark.operators.util import materialize

#: default edit-distance acceptance threshold for :func:`link_records`
DEFAULT_THRESHOLD = 3

#: default blocking-key prefix length (first-N chars of the normalized
#: name / of its last token)
DEFAULT_PREFIX_LEN = 2

#: default grid decomposition factor for the pairwise self-join
#: (:func:`fuzzy_name_pairs`): each block's unordered pairs are split
#: across S(S+1)/2 bucket cells so every pair is ITERATED once instead
#: of twice (the plain ordered self-join probes both orientations and
#: discards half on ``name_a < name_b``). Measured round 14 (SCALE.md):
#: 1.7-2.0x at sf1/sf3 on both whale and uniform corpora, neutral at
#: sf0.1 — so the grid is the default for BOTH the broadcast and
#: shuffled strategies; ``salt=1`` recovers the plain joins.
DEFAULT_GRID_SALT = 8


def normalize_name(col) -> Column:
    """Matching-side normalization: lower(trim(name)).

    Kept deliberately minimal (and locale-free) so the oracle can
    mirror it exactly; heavier folding (accents, punctuation) belongs
    to a corpus-specific prep step upstream.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def block_keys(
    name_col, prefix_len: int = DEFAULT_PREFIX_LEN
) -> Column:
    """Multi-pass blocking keys for a normalized name: an array of
    tagged prefixes.

    - ``p:`` + first ``prefix_len`` chars of the whole name
      (sorted-neighborhood-style head key);
    - ``l:`` + first ``prefix_len`` chars of the LAST whitespace token
      (surname/suffix key — recovers head edits: a dropped first
      char, an added honorific).

    Multi-pass blocking is the standard recall lever in record
    linkage: a candidate pair only needs to agree on ONE key. Keys
    are tag-disambiguated so a head prefix never collides with a
    last-token prefix. A NULL name yields ``[NULL]`` — a NULL key
    never survives an equi-join, so NULL names cannot silently match;
    :func:`link_records` additionally filters them out before the
    explode (audit them against the input).
    """
    c = F.col(name_col) if isinstance(name_col, str) else name_col
    head = F.concat(F.lit("p:"), F.substring(c, 1, prefix_len))
    last = F.element_at(F.split(c, " "), -1)
    lastk = F.concat(F.lit("l:"), F.substring(last, 1, prefix_len))
    return F.array_distinct(F.array(head, lastk))


def master_key_table(
    masters: DataFrame,
    master_id: str = "master_id",
    master_name: str = "name",
    prefix_len: int = DEFAULT_PREFIX_LEN,
) -> DataFrame:
    """Explode the master catalog into its blocking-key table
    ``(block_key, master_id, __mname)`` — the (always-broadcast) small
    side of the candidate join. ~2 rows per master."""
    return masters.select(
        F.col(master_id).alias("master_id"),
        normalize_name(master_name).alias("__mname"),
    ).select(
        F.explode(block_keys(F.col("__mname"), prefix_len)).alias(
            "block_key"
        ),
        "master_id",
        "__mname",
    )


def link_records(
    records: DataFrame,
    masters: DataFrame,
    record_id: str = "record_id",
    record_name: str = "name",
    master_id: str = "master_id",
    master_name: str = "name",
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Blocked fuzzy linkage: per named record, the best master within
    its candidate blocks.

    Returns one row per record that produced >= 1 candidate:
    ``record_id, <keep_cols>, n_candidates, best_dist, best_master_id,
    best_master_name, matched`` where ``matched`` is
    ``best_dist <= threshold``. Records with a NULL name emit no keys
    and are absent from the output (audit them against the input —
    see the contract's ``er_source_audit``); records whose keys hit no
    master block are likewise absent.

    Plan shape (the 100 TB contract):
    - the exploded master-key table is explicitly ``broadcast()`` —
      candidates are found map-side, the record side never shuffles
      for the join;
    - multi-key pair duplicates are dropped MAP-SIDE, not with a
      distinct aggregate: a pair found via the ``l:`` key is a
      duplicate iff the two head prefixes also agree (the ``p:`` pair
      exists exactly then), so a post-join filter on the two name
      prefixes dedupes exactly and ``n_candidates`` is a plain
      ``count`` — no expand, no second exchange;
    - the ONE shuffle is ``groupBy(record_id)``, taking the candidate
      count and the per-record argmin best master
      (``min(struct(dist, master_id, name))`` — tie-break on
      master_id, unique, so the result is deterministic);
    - ``levenshtein`` runs JVM-side inside the joined stage's codegen;
    - the record side is ``ensure_parallelism``'d first: the scoring
      stage is |records| x |blocked masters| edit distances, and a
      small input (one parquet row group) would otherwise run it on
      ONE core — a plan NO-OP at real scale where the input has
      thousands of splits.
    """
    from betl_spark.operators.util import ensure_parallelism

    mk = master_key_table(masters, master_id, master_name, prefix_len)
    r = records.select(
        F.col(record_id).alias("record_id"),
        *[F.col(c) for c in keep_cols],
        normalize_name(record_name).alias("__rname"),
    ).where(F.col("__rname").isNotNull())
    r = ensure_parallelism(r)
    cand = r.select(
        "record_id",
        *keep_cols,
        "__rname",
        F.explode(block_keys(F.col("__rname"), prefix_len)).alias(
            "block_key"
        ),
    ).join(F.broadcast(mk), "block_key")
    # exact map-side pair dedup: keep an l:-keyed pair only when the
    # p: keys would NOT also have matched it
    cand = cand.where(
        F.col("block_key").startswith("p:")
        | (
            F.substring("__rname", 1, prefix_len)
            != F.substring("__mname", 1, prefix_len)
        )
    )
    cand = cand.withColumn(
        "dist", F.levenshtein("__rname", "__mname").cast("long")
    )
    best = cand.groupBy("record_id", *keep_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.min(
            F.struct(
                F.col("dist"),
                F.col("master_id"),
                F.col("__mname"),
                F.col("__rname"),
            )
        ).alias("__best"),
    )
    return best.select(
        "record_id",
        *keep_cols,
        "n_candidates",
        F.col("__best.dist").alias("best_dist"),
        F.col("__best.master_id").alias("best_master_id"),
        F.col("__best.__mname").alias("best_master_name"),
        F.col("__best.__rname").alias("__rname"),
        (F.col("__best.dist") <= F.lit(threshold)).alias("matched"),
    )


def similarity_band_sql(
    dist_sql: str, rec_name_sql: str, master_name_sql: str, duckdb: bool = False
) -> str:
    """Normalized-similarity decile band from exact integers:
    ``least(9, (10 * (maxlen - dist)) DIV maxlen)`` with
    ``maxlen = greatest(len(record), len(master))`` — one SQL text for
    both dialects (``DIV`` vs ``//`` is the only difference; operands
    are non-negative so floor == trunc).

    ``1 - dist/maxlen`` is the usual normalized edit similarity;
    banding it straight from the integer numerator avoids every
    double-rounding hazard (bug-#4 class) — band 9 holds sim in
    [0.9, 1.0]. ``maxlen >= dist`` always (levenshtein upper bound),
    and maxlen = 0 (two empty names) is sent to band 9 (identical)."""
    div = "//" if duckdb else "DIV"
    ml = f"greatest(length({rec_name_sql}), length({master_name_sql}))"
    return (
        f"CASE WHEN {ml} = 0 THEN 9 ELSE "
        f"least(9, (10 * ({ml} - ({dist_sql}))) {div} {ml}) END"
    )


# ---- record-vs-record half: blocked fuzzy NAME-PAIR dedup ----
# (the round-9 surface: canonicalize -> single-key block -> in-block
# pairwise levenshtein; complements link_records' record-vs-catalog
# resolution above. A skewed block re-creates the quadratic inside one
# reducer - mitigation is a finer block function or salting, exactly
# like a skewed join key.)


def canonicalize_names(
    df: DataFrame, id_col: str, name_col: str
) -> DataFrame:
    """Collapse exact-duplicate names before pairwise scoring: one row
    per distinct name with its lowest id as the canonical
    representative and the member count as weight. Cuts the fuzzy
    stage's input from |rows| to |name vocabulary| — on catalog-style
    data (64 distinct names across 20k parts) that is the difference
    between 4M candidate pairs and a few hundred.
    """
    return df.groupBy(F.col(name_col).alias("name")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def fuzzy_join_blocked(
    names: DataFrame,
    block_expr,
    max_dist: int = 3,
) -> DataFrame:
    """All near-duplicate name pairs within a block:
    self-join ``names`` (from ``canonicalize_names``) on
    ``block_expr(name)``, keep pairs with
    ``levenshtein(a, b) <= max_dist``, ordered pair convention
    (name_a < name_b) so each pair appears once.

    Output: (block, name_a, name_b, id_a, id_b, n_members_a,
    n_members_b, dist).
    """
    sides = names.select(
        block_expr(F.col("name")).alias("block"),
        "name",
        "canonical_id",
        "n_members",
    )
    a = sides.alias("a")
    b = sides.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.block").alias("block"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("a.canonical_id").alias("id_a"),
            F.col("b.canonical_id").alias("id_b"),
            F.col("a.n_members").alias("n_members_a"),
            F.col("b.n_members").alias("n_members_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name")).alias("dist"),
        )
        .where(F.col("dist") <= F.lit(int(max_dist)))
    )


def first_token_block(col) -> F.Column:
    """Default block key: the name's first whitespace token (catalog
    names lead with their most discriminative attribute)."""
    return F.split_part(col, F.lit(" "), F.lit(1))


# ---- master-less ER: transitive clustering among dirty records ----
# (round-11 verdict ask #6: link_records resolves against a master
# catalog; this is the other half — cluster the dirty records among
# THEMSELVES: blocked fuzzy pairs -> connected components -> cluster
# survivorship. Composes the multi-pass blocking above with the CC
# machinery in operators/dedup.py.)


def fuzzy_name_pairs(
    names: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    broadcast_names: bool = True,
    salt: int = DEFAULT_GRID_SALT,
) -> DataFrame:
    """All fuzzy-match pairs over a DISTINCT-name vocabulary using the
    multi-pass (``p:`` head / ``l:`` last-token) blocking keys:
    ``(name_a, name_b, dist)`` with ``name_a < name_b`` and
    ``dist <= threshold``.

    ``names`` must carry one already-normalized ``name`` column (one
    row per distinct name — see :func:`cluster_records` for why the
    vocabulary grain matters). A pair found via BOTH keys is deduped
    MAP-SIDE (an ``l:`` pair is kept only when the ``p:`` prefixes
    disagree — the exact condition under which the ``p:`` copy doesn't
    exist), so there is no distinct aggregate over the pair stream;
    ``levenshtein`` runs JVM-side in the joined stage's codegen.
    In-block work is quadratic in BLOCK size — the classic blocked-ER
    trade; running it at vocabulary grain (not record grain) is what
    keeps blocks bounded.

    Join strategy — the round-13 whale-rehearsal lesson (SCALE.md): a
    shuffled self-join on ``block_key`` serializes each block onto ONE
    reducer, and on a small vocabulary AQE's byte-based coalescing
    collapses the whole EXPLOSIVE pair stage to one partition (the
    candidate blow-up is output rows, invisible to map-side size
    stats) — measured 25x wall-time on a 13k-name corpus with a whale
    block. So:

    - ``broadcast_names=True`` (default): the keyed vocabulary is
      broadcast (the module's contract — vocabulary grain is the
      BOUNDED axis, same as link_records' master side) and the probe
      side is ``ensure_parallelism``'d; candidates are generated
      map-side, spread across probe partitions however whale-shaped
      one block is.
    - ``broadcast_names=True, salt=S``: grid-decomposed broadcast —
      the round-14 whale measurement showed the plain ordered
      self-join's real cost is ORIENTATION, not distribution: the
      hash probe iterates every unordered in-block pair TWICE (once
      per orientation) and discards half on ``name_a < name_b``
      (probe granularity was exonerated: 256 probe partitions timed
      the same as 32). Bucketing names by ``xxhash64 % S`` and having
      each probe row scan only partner buckets ``v >= u`` (own bucket
      under the name ordering) meets each unordered pair ONCE —
      measured ~1.9x on the sf3 whale corpus with broadcast safety
      intact (SCALE.md round 14).
    - ``broadcast_names=False``: shuffled join for
      larger-than-broadcast vocabularies; pass ``salt=S`` to grid-
      decompose each block into S(S+1)/2 cells (deterministic
      xxhash64 bucketing; every unordered pair meets in exactly one
      cell), bounding per-reducer work at |block|²/S² — the standard
      skewed-self-join decomposition.
    """
    from betl_spark.operators.util import ensure_parallelism

    keyed = names.select(
        F.col("name"),
        F.explode(block_keys(F.col("name"), prefix_len)).alias("block_key"),
    )
    if broadcast_names and salt > 1:
        u = F.pmod(F.xxhash64(F.col("name")), F.lit(int(salt))).cast("int")
        a = ensure_parallelism(
            keyed.withColumn("__u", u).withColumn(
                "__v",
                F.explode(F.sequence(F.col("__u"), F.lit(int(salt) - 1))),
            )
        ).alias("a")
        b = F.broadcast(keyed.withColumn("__v", u)).alias("b")
        # pair (x, y) meets exactly once: cross-bucket pairs from the
        # SMALLER-bucket member only (it alone explodes up to the
        # partner's bucket); same-bucket pairs ordered by name
        cond = (
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.__v") == F.col("b.__v"))
            & (
                (F.col("a.__u") != F.col("b.__v"))
                | (F.col("a.name") < F.col("b.name"))
            )
            & (F.col("a.name") != F.col("b.name"))
        )
        pairs = a.join(b, cond)
        emit_a = F.least(F.col("a.name"), F.col("b.name"))
        emit_b = F.greatest(F.col("a.name"), F.col("b.name"))
    elif broadcast_names:
        a = ensure_parallelism(keyed).alias("a")
        b = F.broadcast(keyed).alias("b")
        cond = (F.col("a.block_key") == F.col("b.block_key")) & (
            F.col("a.name") < F.col("b.name")
        )
        pairs = a.join(b, cond)
        emit_a, emit_b = F.col("a.name"), F.col("b.name")
    elif salt > 1:
        u = F.pmod(F.xxhash64(F.col("name")), F.lit(int(salt))).cast("int")
        a = (
            keyed.withColumn("__u", u)
            .withColumn(
                "__v",
                F.explode(F.sequence(F.col("__u"), F.lit(int(salt) - 1))),
            )
            .alias("a")
        )
        b = (
            keyed.withColumn("__v", u)
            .withColumn(
                "__u", F.explode(F.sequence(F.lit(0), F.col("__v")))
            )
            .alias("b")
        )
        # every unordered pair meets in exactly one cell: (u_x, u_y)
        # with u_x <= u_y, the smaller-bucket name arriving from the
        # left. Off-diagonal cells see each pair once in one
        # orientation (emit ordered via least/greatest); diagonal
        # cells see both orientations (keep name_a < name_b only).
        pairs = a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.__u") == F.col("b.__u"))
            & (F.col("a.__v") == F.col("b.__v"))
            & (
                (F.col("a.__u") != F.col("a.__v"))
                | (F.col("a.name") < F.col("b.name"))
            )
            & (F.col("a.name") != F.col("b.name")),
        )
        emit_a = F.least(F.col("a.name"), F.col("b.name"))
        emit_b = F.greatest(F.col("a.name"), F.col("b.name"))
    else:
        a, b = keyed.alias("a"), keyed.alias("b")
        pairs = a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.name") < F.col("b.name")),
        )
        emit_a, emit_b = F.col("a.name"), F.col("b.name")
    pairs = pairs.where(
        F.col("a.block_key").startswith("p:")
        | (
            F.substring(F.col("a.name"), 1, prefix_len)
            != F.substring(F.col("b.name"), 1, prefix_len)
        )
    )
    return pairs.select(
        emit_a.alias("name_a"),
        emit_b.alias("name_b"),
        F.levenshtein(emit_a, emit_b).cast("long").alias("dist"),
    ).where(F.col("dist") <= F.lit(int(threshold)))


def cluster_records(
    records: DataFrame,
    record_id: str = "record_id",
    record_name: str = "name",
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    keep_cols: tuple[str, ...] = (),
    broadcast_names: bool = True,
    salt: int = DEFAULT_GRID_SALT,
) -> DataFrame:
    """Master-less entity resolution: group dirty records into
    transitive fuzzy-match clusters of their (normalized) names.

    Returns one row per record with a non-NULL name: ``record_id,
    <keep_cols>, name (normalized), cluster_id`` where ``cluster_id``
    is the lexicographically SMALLEST name transitively reachable
    through fuzzy pairs — a deterministic, engine-independent cluster
    label (two records match iff their names are linked through a
    chain of pairs with edit distance <= threshold sharing a block).
    NULL-named records are excluded (audit them against the input,
    exactly like :func:`link_records`).

    The 100 TB shape — every stage is record-LINEAR except one
    vocabulary-bounded pairwise stage:

    1. one hash aggregate collapses records to their DISTINCT
       normalized names (the vocabulary; grows with entity/variant
       cardinality, not corpus size — the same observation as
       :func:`canonicalize_names`);
    2. :func:`fuzzy_name_pairs` scores pairs at vocabulary grain (one
       shuffle on ``block_key``);
    3. connected components over the name-pair graph via
       ``operators.dedup.duplicate_clusters`` (large-star/small-star
       contraction: O(log n) rounds however whale-shaped the clusters
       get — and on this family they DO whale: duplicates per entity
       grow linearly with the corpus);
    4. the name -> cluster_id map (vocabulary-grain, SMALL) joins back
       to records on the normalized name; singleton names (no pair)
       keep themselves as cluster_id via coalesce.

    ``broadcast_names``/``salt`` pass straight through to
    :func:`fuzzy_name_pairs` — the caller-level escape to the
    shuffled+salted path for the growing-vocabulary regime where the
    keyed vocabulary outgrows the broadcast cap (the round-13
    advisor's point: an unconditional broadcast hint bypasses
    autoBroadcastJoinThreshold and would hit the 8 GB broadcast
    limit / driver OOM with no way out).
    """
    from betl_spark.operators.dedup import duplicate_clusters

    r = records.select(
        F.col(record_id).alias("record_id"),
        *[F.col(c) for c in keep_cols],
        normalize_name(record_name).alias("name"),
    ).where(F.col("name").isNotNull())
    # the distinct-name vocabulary feeds BOTH sides of the pair
    # self-join plus the label join-back — without materialization the
    # corpus-wide distinct re-executes per consumer (guide §5: reuse >
    # recompute for a bounded frame; it is vocabulary-grain by
    # definition)
    vocab = materialize(r.select("name").distinct())
    pairs = fuzzy_name_pairs(
        vocab, threshold, prefix_len, broadcast_names=broadcast_names, salt=salt
    )
    cc = duplicate_clusters(pairs, "name_a", "name_b", edges_unique=True).select(
        F.col("node").alias("name"), "cluster_id"
    )
    labeled = vocab.join(cc, "name", "left").select(
        "name", F.coalesce("cluster_id", "name").alias("cluster_id")
    )
    return r.join(labeled, "name").select(
        "record_id", *keep_cols, "name", "cluster_id"
    )


def sorted_neighborhood_pairs(
    names: DataFrame,
    window: int = 5,
    threshold: int = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Sorted-neighborhood (SNM) fuzzy pairs over a distinct-name
    vocabulary: rank the names in lexicographic order, compare each
    name only to its next ``window - 1`` neighbors, keep pairs with
    ``dist <= threshold``. Output ``(name_a, name_b, dist, rank_gap)``
    with ``name_a < name_b`` (rank order IS name order) and
    ``rank_gap`` the distance in the sorted sequence (1 = adjacent).

    This is the classic mitigation when KEY blocking produces a whale
    block (one shared prefix covering a large fraction of the
    vocabulary turns :func:`fuzzy_name_pairs` quadratic inside that
    block): SNM bounds total candidates to ``(window-1) * n``
    REGARDLESS of value skew — the trade is recall (only
    sort-adjacent variants pair; a head edit that changes the sort
    position escapes the window, which is exactly what the multi-pass
    ``l:`` key recovers in the blocked formulation).

    Measured operating rule (round-13 whale rehearsal, SCALE.md): on a
    30%-one-prefix corpus at sf1, blocking found 98.9% of true fuzzy
    pairs vs SNM's 29.2% (51k candidates, 0.2s vs 30M, 18s) — SNM
    alone is NOT a recall substitute; it is the candidate-BOUND
    fallback. Mitigate a whale inside the blocked path first
    (broadcast the vocabulary when it fits — the default — or
    ``salt=S`` the shuffled join), union SNM in for the pairs sharing
    neither tagged key, and fall back to SNM-only only when the
    candidate budget, not recall, is the binding constraint.

    Plan shape (the 100 TB contract): the global rank comes from the
    SK engine (``defaults/load.py:assign_surrogate_keys`` — ONE range
    shuffle numbered by Spark's distributed sequence, no
    ``row_number() OVER (ORDER BY ...)`` single-partition window). Both
    sides of the self-join number the vocabulary independently and
    agree because the names are distinct. Neighbor pairing is
    ``explode(sequence(1, window-1))`` + ONE equi-join on the shifted
    rank. Candidates never exceed
    ``(window-1) * |vocabulary|``; levenshtein stays JVM-side.
    """
    from betl_spark.defaults.load import assign_surrogate_keys

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    idx = assign_surrogate_keys(names.select("name"), "__rn", ["name"])
    probe = idx.select(
        F.col("name").alias("name_a"),
        F.col("__rn").alias("__ra"),
        F.explode(
            F.sequence(F.lit(1), F.lit(int(window) - 1))
        ).alias("__gap"),
    ).withColumn("__rb", F.col("__ra") + F.col("__gap"))
    right = idx.select(
        F.col("name").alias("name_b"), F.col("__rn").alias("__rb")
    )
    return (
        probe.join(right, "__rb")
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
            F.col("__gap").cast("long").alias("rank_gap"),
        )
        .where(F.col("dist") <= F.lit(int(threshold)))
    )


def cross_name_pairs(
    left_names: DataFrame,
    right_names: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    broadcast_names: bool = True,
    salt: int = DEFAULT_GRID_SALT,
) -> DataFrame:
    """Fuzzy-match pairs BETWEEN two distinct-name vocabularies (no
    in-side pairs): ``(name_l, name_r, dist)`` with
    ``dist <= threshold``, one row per matched (left, right) name.

    Same multi-pass tagged keys and map-side multi-key dedup as
    :func:`fuzzy_name_pairs`, but the two sides are different frames
    (e.g. a new ingest batch's names vs the already-clustered
    vocabulary), so no ordering predicate is needed — every (l, r)
    combination is a candidate exactly once after the p:/l: dedup.

    Join strategy: ``broadcast_names=True`` (default) broadcasts the
    right side (the accumulated/bounded vocabulary in every production
    shape) and ``ensure_parallelism``'s the left probe side — same
    whale-block/AQE-coalescing lesson as :func:`fuzzy_name_pairs`
    (SCALE.md round 13): a shuffled equi-join would serialize each
    block's candidate explosion onto one reducer. For a
    larger-than-broadcast right vocabulary pass
    ``broadcast_names=False`` and ``salt=S``: each left row lands in
    one of S deterministic buckets and the right side is replicated
    into all S, so every (l, r) candidate meets exactly once and
    per-reducer work is bounded at |block_l|·|block_r|/S — the
    two-sided analogue of the grid decomposition.
    """
    from betl_spark.operators.util import ensure_parallelism

    lk = ensure_parallelism(
        left_names.select(
            F.col("name").alias("name_l"),
            F.explode(block_keys(F.col("name"), prefix_len)).alias(
                "block_key"
            ),
        )
    )
    rk = right_names.select(
        F.col("name").alias("name_r"),
        F.explode(block_keys(F.col("name"), prefix_len)).alias("block_key"),
    )
    if broadcast_names:
        cand = lk.join(F.broadcast(rk), "block_key")
    elif salt > 1:
        lk = lk.withColumn(
            "__s",
            F.pmod(F.xxhash64(F.col("name_l")), F.lit(int(salt))).cast("int"),
        )
        rk = rk.withColumn(
            "__s", F.explode(F.sequence(F.lit(0), F.lit(int(salt) - 1)))
        )
        cand = lk.join(rk, ["block_key", "__s"])
    else:
        cand = lk.join(rk, "block_key")
    cand = cand.where(
        F.col("block_key").startswith("p:")
        | (
            F.substring("name_l", 1, prefix_len)
            != F.substring("name_r", 1, prefix_len)
        )
    )
    return cand.select(
        "name_l",
        "name_r",
        F.levenshtein("name_l", "name_r").cast("long").alias("dist"),
    ).where(F.col("dist") <= F.lit(int(threshold)))


def incremental_cluster_assign(
    new_records: DataFrame,
    existing_labels: DataFrame,
    record_id: str = "record_id",
    record_name: str = "name",
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    keep_cols: tuple[str, ...] = (),
    broadcast_names: bool = True,
    salt: int = DEFAULT_GRID_SALT,
) -> DataFrame:
    """Incremental (attach-or-create) entity resolution: assign a new
    ingest batch against FROZEN existing clusters — the daily-ingest
    half of master-less ER (a full re-cluster of 100 TB per day is not
    a plan; attaching the new batch to yesterday's labels is).

    ``existing_labels`` is the vocabulary-grain ``(name, cluster_id)``
    map (e.g. :func:`cluster_records` output collapsed to distinct
    names, or yesterday's persisted map). Semantics, all deterministic:

    - a new record whose normalized name ALREADY EXISTS in the map
      keeps that name's cluster_id (exact-name attach, no fuzzy work);
    - genuinely new names are clustered among THEMSELVES
      (:func:`fuzzy_name_pairs` + connected components — transitive,
      exactly like the batch operator);
    - each new-name component then attaches to the MINIMUM existing
      cluster_id fuzzy-adjacent (:func:`cross_name_pairs`) to ANY of
      its members; components with no existing neighbor become new
      clusters labeled by their minimum member name. Existing labels
      are never rewritten — a component adjacent to TWO existing
      clusters attaches to the smaller id and the bridge is surfaced
      by :func:`incremental_bridge_audit`, not silently merged.

    Output: one row per named new record: ``record_id, <keep_cols>,
    name, cluster_id, is_new_cluster``. Scale shape mirrors
    :func:`cluster_records`: record-grain stages are one hash agg +
    one broadcast-sized join; all pairwise work runs at the grain of
    the NEW batch's unseen-name vocabulary (the smallest set in the
    whole problem) against the bounded existing vocabulary.

    ``broadcast_names``/``salt`` thread through to BOTH pairwise
    stages (:func:`fuzzy_name_pairs` among the fresh names,
    :func:`cross_name_pairs` fresh-vs-existing) — when the
    accumulated existing vocabulary outgrows the broadcast cap, the
    shuffled+salted path is reachable from here, not only from the
    standalone pair operators.
    """
    from betl_spark.operators.dedup import duplicate_clusters

    r = new_records.select(
        F.col(record_id).alias("record_id"),
        *[F.col(c) for c in keep_cols],
        normalize_name(record_name).alias("name"),
    ).where(F.col("name").isNotNull())
    existing = existing_labels.select("name", "cluster_id")
    vocab = r.select("name").distinct()
    # fresh (the batch's unseen names) is read by three consumers —
    # the in-batch pair join (both sides), the component join-back and
    # the cross pairs; materialize the anti-join once (bounded:
    # unseen-name grain, the smallest set in the problem)
    fresh = materialize(vocab.join(existing, "name", "left_anti"))
    # components among the fresh names (transitive within the batch)
    nn = fuzzy_name_pairs(
        fresh, threshold, prefix_len, broadcast_names=broadcast_names, salt=salt
    )
    cc = duplicate_clusters(nn, "name_a", "name_b", edges_unique=True).select(
        F.col("node").alias("name"), F.col("cluster_id").alias("comp")
    )
    comp = fresh.join(cc, "name", "left").select(
        "name", F.coalesce("comp", "name").alias("comp")
    )
    # minimum existing cluster adjacent to each component
    ne = cross_name_pairs(
        fresh,
        existing.select("name"),
        threshold,
        prefix_len,
        broadcast_names=broadcast_names,
        salt=salt,
    )
    attach = (
        ne.join(existing.withColumnRenamed("name", "name_r"), "name_r")
        .join(comp.withColumnRenamed("name", "name_l"), "name_l")
        .groupBy("comp")
        .agg(F.min("cluster_id").alias("attach_id"))
    )
    fresh_labels = comp.join(attach, "comp", "left").select(
        "name",
        F.coalesce("attach_id", "comp").alias("cluster_id"),
        F.col("attach_id").isNull().alias("is_new_cluster"),
    )
    all_labels = existing.withColumn(
        "is_new_cluster", F.lit(False)
    ).unionByName(fresh_labels)
    return r.join(all_labels, "name").select(
        "record_id", *keep_cols, "name", "cluster_id", "is_new_cluster"
    )


def incremental_bridge_audit(
    new_records: DataFrame,
    existing_labels: DataFrame,
    record_id: str = "record_id",
    record_name: str = "name",
    threshold: int = DEFAULT_THRESHOLD,
    prefix_len: int = DEFAULT_PREFIX_LEN,
    broadcast_names: bool = True,
    salt: int = DEFAULT_GRID_SALT,
) -> DataFrame:
    """The merge-candidate report for :func:`incremental_cluster_assign`:
    per new-name component, how many DISTINCT existing clusters it is
    fuzzy-adjacent to. Components with ``n_adjacent >= 2`` are bridges
    — evidence that two frozen clusters are the same entity; the
    incremental pass deliberately does NOT merge them (labels are
    stable within a day), it reports them for the next full re-cluster
    or a human queue. Output: ``(comp, n_members, n_adjacent,
    attach_id)`` — one row per component that has at least one
    existing neighbor.
    """
    from betl_spark.operators.dedup import duplicate_clusters

    r = new_records.select(
        normalize_name(record_name).alias("name")
    ).where(F.col("name").isNotNull())
    existing = existing_labels.select("name", "cluster_id")
    # same reuse shape as incremental_cluster_assign: fresh (the
    # batch's unseen names) is read by the in-batch pair join (both
    # sides), the component join-back and the cross pairs — without
    # the checkpoint each consumer recomputes the corpus-wide
    # distinct + anti-join (guide §5: reuse a bounded frame; the
    # sibling's r14 change, applied here in r15)
    fresh = materialize(r.distinct().join(existing, "name", "left_anti"))
    nn = fuzzy_name_pairs(
        fresh, threshold, prefix_len, broadcast_names=broadcast_names, salt=salt
    )
    cc = duplicate_clusters(nn, "name_a", "name_b", edges_unique=True).select(
        F.col("node").alias("name"), F.col("cluster_id").alias("comp")
    )
    comp = fresh.join(cc, "name", "left").select(
        "name", F.coalesce("comp", "name").alias("comp")
    )
    ne = cross_name_pairs(
        fresh,
        existing.select("name"),
        threshold,
        prefix_len,
        broadcast_names=broadcast_names,
        salt=salt,
    )
    adj = (
        ne.join(existing.withColumnRenamed("name", "name_r"), "name_r")
        .join(comp.withColumnRenamed("name", "name_l"), "name_l")
        .groupBy("comp")
        .agg(
            F.countDistinct("cluster_id").cast("long").alias("n_adjacent"),
            F.min("cluster_id").alias("attach_id"),
        )
    )
    members = comp.groupBy("comp").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return members.join(adj, "comp").select(
        "comp", "n_members", "n_adjacent", "attach_id"
    )


# ---- survivorship: golden-record assembly after resolution ----


def majority_vote(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Deterministic per-group plurality: the most frequent non-NULL
    ``value_col`` in each group, ties broken by the SMALLEST value —
    the total order the oracle mirrors. Output: ``(group_col,
    value_col, n_votes)``.

    The classic survivorship field rule ("most sources say X"). Two
    bounded shuffles: the (group, value) census, then the per-group
    argmax — implemented as ``min(struct(-n, value))`` so one hash
    aggregate replaces a window sort. NULLs never vote (a missing
    field is an abstention, not a candidate golden value).
    """
    census = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    best = census.groupBy(group_col).agg(
        F.min(F.struct((-F.col("__n")).alias("__neg"), F.col(value_col))).alias(
            "__b"
        )
    )
    return best.select(
        group_col,
        F.col(f"__b.{value_col}").alias(value_col),
        (-F.col("__b.__neg")).cast("long").alias("n_votes"),
    )


def survivorship(
    df: DataFrame,
    group_col: str,
    rules: dict[str, str],
) -> DataFrame:
    """Golden-record assembly: one row per group with each field
    survived by its rule — ``'min'`` / ``'max'`` (NULL-skipping, the
    usual recency/completeness picks), ``'sum'`` / ``'count'``
    (additive facts), or ``'mode'`` (deterministic plurality via
    :func:`majority_vote`).

    All non-mode rules ride ONE hash aggregate on ``group_col``; each
    mode rule adds its own bounded census + argmax and joins back on
    the group key (mode is not algebraic — it cannot share the single
    agg — but every join here is group-grain: |groups| rows, the
    SMALL side of the pipeline). Output columns keep the source names
    (mode columns as-is, others suffixed ``_<rule>``).
    """
    aggs = []
    modes = []
    for col, rule in rules.items():
        if rule == "mode":
            modes.append(col)
        elif rule in ("min", "max", "sum"):
            aggs.append(getattr(F, rule)(col).alias(f"{col}_{rule}"))
        elif rule == "count":
            aggs.append(F.count(col).cast("long").alias(f"{col}_count"))
        else:
            raise ValueError(
                f"unknown survivorship rule {rule!r} for column {col!r}"
            )
    golden = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"), *aggs
    )
    for col in modes:
        golden = golden.join(
            majority_vote(df, group_col, col).withColumnRenamed(
                "n_votes", f"{col}_votes"
            ),
            group_col,
            "left",
        )
    return golden
