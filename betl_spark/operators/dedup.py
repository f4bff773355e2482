"""Deduplication operators.

Four tiers, cheapest first — the standard large-corpus dedup ladder:

1. ``exact_dedup``        — hash-groupBy on content; one shuffle of
                            (hash, id), never the payload.
2. ``simhash``            — 48-bit near-dup fingerprint; Hamming
                            neighbors are near-dups. One pass, no joins.
3. ``minhash_signatures`` + ``lsh_candidate_pairs`` — shingle → minhash
                            → band → bucket-join. The only pairwise work
                            happens inside LSH buckets, so the candidate
                            set is ~linear, not quadratic.
4. ``ngram_jaccard_pairs`` — exact Jaccard verification, intended for
                            candidate pairs (or small brute-force scopes).

All hashes derive from md5 (seeded by index), so signatures are
deterministic across runs/engines/partitionings — required for the
DuckDB oracle and for incremental dedup against a previous corpus.

Scale notes: shingling + minhashing is per-row column work (explode +
min aggregate re-keyed by doc); the LSH self-join shuffles on
(band_idx, band_hash) — bucket sizes are the skew knob: more bands ×
fewer rows per band = bigger buckets; tune (bands, rows_per_band) for
the target similarity threshold ~ (1/bands)^(1/rows_per_band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from betl_spark.io.readers import local_rows
from betl_spark.operators.util import ensure_parallelism, materialize

# 15 hex digits = 60 bits — fits signed 64-bit in both Spark and DuckDB
_HASH_HEX = 15


def _md5_long(col) -> F.Column:
    """Deterministic 60-bit integer hash of a string column (md5-based,
    identical in any engine with md5 + hex→int)."""
    return F.conv(F.substring(F.md5(col), 1, _HASH_HEX), 16, 10).cast("long")


def char_shingles(
    text_col: str, k: int = 5, distinct: bool = True, stride: int = 1
) -> F.Column:
    """Character k-gram array (the shingle set for MinHash/Jaccard).

    ``stride`` > 1 samples every stride-th position (winnowing-style):
    fingerprint cost drops by the stride factor while min-hash markers
    stay stable under large-block edits.

    Text shorter than ``k`` chars (or NULL) yields an EMPTY array —
    without the guard, sequence(0, negative, stride) throws and one
    short document aborts the whole job; the DuckDB-oracle equivalent
    (range() → empty list) degrades the same way."""
    step = f", {stride}" if stride != 1 else ""
    expr = (
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"transform(sequence(0, length({text_col}) - {k}{step}), "
        f"i -> substring({text_col}, i + 1, {k})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    out = F.expr(expr)
    return F.array_distinct(out) if distinct else out


def content_hash(content_cols: list[str]) -> F.Column:
    """Canonical md5 content hash shared by the exact-dedup family.

    Values join on the \\x01 unit separator with NULL mapped to a
    sentinel no real string starts with (\\x00NULL): concat_ws SKIPS
    nulls, so without the sentinel ('x', NULL), (NULL, 'x') and a lone
    'x' would all hash identically and be wrongly collapsed as
    duplicates. A single non-null column degenerates to plain
    md5(value), which the DuckDB oracles replay as
    md5(coalesce(col, chr(0)||'NULL')).
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
        for c in content_cols
    ]
    return F.md5(parts[0] if len(parts) == 1 else F.concat_ws("\x01", *parts))


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Exact dedup: group by content hash, keep the minimum id
    (deterministic winner). Returns (keep_id, content_hash, n_copies).

    At scale: only (hash, id) shuffles — the groupBy never moves the
    payload, and map-side partial aggregation collapses local dups
    before the exchange.
    """
    h = content_hash(content_cols)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "content_hash", "n_copies")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signatures, LONG format: (id, h_idx, minhash).

    minhash_i(doc) = min over shingles s of md5(i ':' s) — seeded hashes
    from one md5 family, no random state.

    Documents shorter than ``shingle_k`` chars have NO shingles and
    therefore NO signature rows — they can't participate in near-dup
    detection at this granularity (run ``exact_dedup`` first; it has no
    length floor). This mirrors the oracle's behavior exactly.
    """
    # shingling + seeded hashing is the CPU-heavy map work: don't let a
    # single small input split serialize it on one core (no-op at scale)
    shingled = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(char_shingles(text_col, shingle_k)).alias("shingle"),
    )
    # one h_idx row per hash via explode of a literal array — join-free
    # (a broadcast crossJoin with a seeds table plans as a
    # BroadcastNestedLoopJoin node; this is a plain Generate)
    hashes = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(n_hashes)])
    ).alias("h_idx")
    return (
        shingled.select(id_col, "shingle", hashes)
        .select(
            id_col,
            "h_idx",
            _md5_long(
                F.concat_ws(":", F.col("h_idx").cast("string"), F.col("shingle"))
            ).alias("h"),
        )
        .groupBy(id_col, "h_idx")
        .agg(F.min("h").alias("minhash"))
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs from banded LSH over LONG-format
    signatures: docs sharing ≥1 identical band are candidates.

    Output: (id_a, id_b) with id_a < id_b, distinct.

    The self-join happens per (band_idx, band_hash) bucket — the
    shuffle key — so work scales with bucket sizes, not corpus².
    """
    banded = _banded_signatures(signatures, id_col, n_hashes, bands)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _banded_signatures(
    signatures: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) from LONG-format minhash signatures: one
    md5 per (doc, band) over its sorted h_idx:minhash rows."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes}: a remainder would "
            "silently drop the trailing hashes from every band"
        )
    rows_per_band = n_hashes // bands
    return (
        signatures.withColumn("band", (F.col("h_idx") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",", F.array_sort(F.collect_list(F.concat_ws(":", "h_idx", "minhash")))
                )
            ).alias("band_hash")
        )
    )


def lsh_candidate_pairs_against(
    sigs_new: DataFrame,
    sigs_ref: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate pairs between a NEW batch and an existing REFERENCE
    corpus only — the incremental-ingest shape: the reference side is
    never paired with itself, so adding a daily batch costs
    O(batch × bucket overlap), not O(corpus²) re-pairing. Reference
    band signatures are computed once and are reusable across batches
    (persist or store them; the band construction is deterministic).

    Output (id_new, id_ref), distinct; the sides are distinguished by
    column, so ids need not be disjoint across inputs.
    """
    bn = _banded_signatures(sigs_new, id_col, n_hashes, bands).select(
        F.col(id_col).alias("id_new"), "band", "band_hash"
    )
    br = _banded_signatures(sigs_ref, id_col, n_hashes, bands).select(
        F.col(id_col).alias("id_ref"), "band", "band_hash"
    )
    return bn.join(br, on=["band", "band_hash"]).select("id_new", "id_ref").distinct()


def near_dups_against(
    df_new: DataFrame,
    df_ref: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup check: which NEW documents near-duplicate
    the existing corpus — minhash both sides, banded candidates
    new×ref only, exact shingle-Jaccard verification on the candidates.
    Output (id_new, id_ref, jaccard ≥ threshold, 6dp). Drop or audit
    the flagged id_new rows; the reference corpus is never modified.
    """
    sn = minhash_signatures(df_new, id_col, text_col, n_hashes, shingle_k)
    sr = minhash_signatures(df_ref, id_col, text_col, n_hashes, shingle_k)
    cand = lsh_candidate_pairs_against(sn, sr, id_col, n_hashes, bands)
    a = ensure_parallelism(df_new).select(
        F.col(id_col).alias("id_new"), char_shingles(text_col, shingle_k).alias("sh_a")
    )
    b = ensure_parallelism(df_ref).select(
        F.col(id_col).alias("id_ref"), char_shingles(text_col, shingle_k).alias("sh_b")
    )
    joined = cand.join(a, "id_new").join(b, "id_ref")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # integral 6dp rounding (round_ratio_expr): a count ratio whose
    # lowest-terms denominator has a factor 5 can be a true non-dyadic
    # 6dp midpoint, where round(double) diverges cross-engine — the
    # bug-#4/#5 class, closed here by construction
    from betl_spark.operators.util import round_ratio_expr

    return (
        joined.select(
            "id_new", "id_ref", inter.alias("__i"), union.alias("__u")
        )
        .select(
            "id_new",
            "id_ref",
            F.when(
                F.col("__u") > 0, round_ratio_expr("__i", "__u", 6)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def exact_dedup_against(
    df_new: DataFrame,
    df_ref: DataFrame,
    id_col: str,
    content_cols: list[str],
    prefilter_bits: int = 20,
    prefilter_hashes: int = 2,
    ref_hash_col: str | None = None,
) -> DataFrame:
    """Incremental EXACT dedup: drop new-batch rows whose content
    already exists in the reference corpus, with a Bloom-style
    broadcast prefilter so the non-duplicate majority of the batch
    never reaches the exact join's shuffle.

    The prefilter is a k-hash Bloom membership test built from pure
    DataFrame ops (PySpark does not expose ``bloom_filter_agg`` /
    ``DataFrameStatFunctions.bloomFilter``): for each of
    ``prefilter_hashes`` seeds, the reference corpus reduces to its
    DISTINCT ``xxhash64(seed, content_hash) mod 2^prefilter_bits``
    buckets — a map-side-combinable aggregate whose output is bounded
    by the bitset size (≤2^bits rows, i.e. ≤8 MiB of longs at the
    default 20 bits) regardless of corpus size — and ships back as a
    broadcast hash join. A batch row whose bucket is missing from ANY
    seed's set is guaranteed absent from the reference (no false
    negatives, same pigeonhole guarantee as a real Bloom filter) and
    takes the zero-shuffle fast path; only the candidates (true dups +
    false positives, rate ≈ (n_ref/2^bits)^k) continue to the exact
    LEFT ANTI join on the md5 content hash. The result is therefore
    EXACT — identical to a plain anti join — while the expensive join
    only sees the pre-pruned sliver of the batch.

    At 100 TB the ref side of the exact join would shuffle its hash
    column once per ingest — that exchange IS the job at corpus scale.
    Eliminate it by storing the reference corpus as a table BUCKETED by
    its precomputed content-hash column (``io.writers.write_bucketed``)
    and passing that column's name as ``ref_hash_col``: the planner
    then reads the bucket layout instead of shuffling (only the batch
    side exchanges, to the bucket count), and the ref scan prunes to
    the single hash column. ``tests/test_plans.py`` pins the
    no-ref-exchange property. (The Bloom bucket-set aggregation still
    shuffles its bounded output — ≤2^bits rows — which is noise.) The
    batch is scanned twice (once per branch of the union) with columns
    pruned; persist it upstream if the scan dominates.

    Output: the surviving ``df_new`` rows, original schema.
    """
    m = 1 << prefilter_bits
    h = content_hash(content_cols)
    batch = df_new.withColumn("__ch", h)
    if ref_hash_col is not None:
        # pre-hashed (typically bucketed) reference: alias keeps the
        # scan's hash-clustered output partitioning (alias-aware), so
        # the distinct + anti join run exchange-free on this side
        ref_h = df_ref.select(F.col(ref_hash_col).alias("__ch"))
    else:
        ref_h = df_ref.select(h.alias("__ch"))
    if prefilter_hashes < 1:  # prefilter disabled: plain exact anti join
        return batch.join(ref_h.distinct(), "__ch", "left_anti").drop("__ch")

    def bucket(seed: int) -> F.Column:
        return F.pmod(F.xxhash64(F.concat(F.lit(f"{seed}:"), F.col("__ch"))), F.lit(m))

    for s in range(prefilter_hashes):
        batch = batch.withColumn(f"__b{s}", bucket(s))
    # presence flags via broadcast left joins against each seed's
    # distinct-bucket set (bounded by the bitset size, broadcastable)
    flagged = batch
    for s in range(prefilter_hashes):
        buckets_s = (
            ref_h.select(bucket(s).alias(f"__b{s}"))
            .distinct()
            .withColumn(f"__p{s}", F.lit(1))
        )
        flagged = flagged.join(F.broadcast(buckets_s), f"__b{s}", "left")
    might = None
    for s in range(prefilter_hashes):
        piece = F.col(f"__p{s}").isNotNull()
        might = piece if might is None else might & piece
    aux = [f"__b{s}" for s in range(prefilter_hashes)] + [
        f"__p{s}" for s in range(prefilter_hashes)
    ]
    definite_new = flagged.filter(~might).drop(*aux, "__ch")
    candidates = flagged.filter(might).drop(*aux)
    confirmed_new = candidates.join(
        ref_h.distinct(), "__ch", "left_anti"
    ).drop("__ch")
    return definite_new.unionByName(confirmed_new)


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection: signatures → banded
    candidates → signature-estimated Jaccard filter.

    Output: (id_a, id_b, est_jaccard) — est = fraction of equal
    minhashes, the standard unbiased estimator."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    pairs = lsh_candidate_pairs(sigs, id_col, n_hashes, bands)
    sa = sigs.select(
        F.col(id_col).alias("id_a"), "h_idx", F.col("minhash").alias("mh_a")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), "h_idx", F.col("minhash").alias("mh_b")
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "h_idx"])
        .groupBy("id_a", "id_b")
        .agg(
            (F.sum((F.col("mh_a") == F.col("mh_b")).cast("int")) / F.lit(n_hashes))
            .alias("est_jaccard")
        )
    )
    return est.filter(F.col("est_jaccard") >= min_est_jaccard)


def simhash(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 48
) -> DataFrame:
    """SimHash fingerprint: per bit j, sum ±1 over token hashes' bit j;
    the sign pattern is the fingerprint. Near-dups differ in few bits
    (compare with hamming_distance / xor+bit_count).

    Shape: explode tokens → hash each ONCE → one groupBy(id) with
    n_bits integer-sum vote columns — all whole-stage codegen, votes
    accumulate map-side, and only (id, 48 ints) cross the shuffle.
    (The former array-fold formulation ran one interpreted HOF
    aggregate per bit, re-evaluating the token-hash array each time —
    O(bits × tokens) lambda dispatches per row.) Integer sums are
    order-independent, so the fingerprint is partition-invariant.

    Contract: output is one fingerprint PER DISTINCT id (duplicate ids
    merge into one vote pool); NULL text is treated as '' so no
    document silently disappears from the output.
    """
    if not 1 <= n_bits <= 60:
        raise ValueError(
            f"n_bits={n_bits} out of range: token hashes are 60-bit "
            "(15 md5 hex chars), so bits above 60 would be constant zero"
        )
    hashed = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("__tok"),
    ).select(F.col(id_col), _md5_long(F.col("__tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(n_bits)
    ]
    fingerprint = None
    for j in range(n_bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return (
        hashed.groupBy(id_col)
        .agg(*votes)
        .select(F.col(id_col), fingerprint.alias("simhash"))
    )


def hamming_distance(col_a, col_b) -> F.Column:
    """Bit distance between two simhash fingerprints."""
    return F.bit_count(F.col(col_a).bitwiseXOR(F.col(col_b)))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs from banded SimHash: split each fingerprint into
    ``bands`` contiguous bit slices and bucket-join on (band, slice) —
    by pigeonhole, any pair within hamming distance < bands shares at
    least one exact band, so recall is total for ``max_hamming`` <
    ``bands``; candidates are then filtered by exact hamming distance.
    Output (id_a, id_b, hamming), distinct, id_a < id_b.

    Scale shape: same as MinHash-LSH — the self-join shuffles on the
    (band, slice) bucket key, so pair work is per-bucket, never
    corpus². One integer fingerprint per doc makes the banded table 4
    longs/doc; at 100 TB the fingerprints (not the text) are all that
    moves.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got {bands}) for total recall; raise bands or lower the cut"
        )
    bits_per = n_bits // bands
    mask = (1 << bits_per) - 1
    fp = simhash(df, id_col, text_col, n_bits)
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * bits_per).bitwiseAND(F.lit(mask)).alias(
                    "slice"
                ),
            )
            for b in range(bands)
        ]
    )
    banded = fp.select(id_col, "simhash", F.explode(slices).alias("bs")).select(
        id_col, "simhash", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "band", "slice"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "band", "slice"
    )
    return (
        a.join(b, ["band", "slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", hamming_distance("fp_a", "fp_b").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs.

    With ``pairs`` (e.g. from ``lsh_candidate_pairs``) verifies only
    those — the scale path. Without, brute-forces all id_a < id_b pairs
    (quadratic: only for small scopes/validation).

    Output: (id_a, id_b, jaccard) with jaccard ≥ threshold, rounded to
    6dp (stable across float environments).
    """
    sh = ensure_parallelism(df).select(
        F.col(id_col), char_shingles(text_col, shingle_k).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    if pairs is not None:
        joined = pairs.join(a, "id_a").join(b, "id_b")
    else:
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # integral 6dp rounding — see ngram_jaccard incremental variant
    from betl_spark.operators.util import round_ratio_expr

    return (
        joined.select(
            "id_a", "id_b", inter.alias("__i"), union.alias("__u")
        )
        .select(
            "id_a",
            "id_b",
            F.when(
                F.col("__u") > 0, round_ratio_expr("__i", "__u", 6)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.6,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle CONTAINMENT for pairs: |A∩B| / min(|A|, |B|)
    (Broder's containment, symmetrized by the smaller set). Catches
    near-SUBSET relations Jaccard misses — a document quoted inside a
    10× larger one has Jaccard ≈ 0.1 but containment ≈ 1.0, and
    quote/wrapper duplication is a major corpus-dedup class.

    Same scale contract as ``ngram_jaccard_pairs``: pass ``pairs``
    (LSH candidates) for the linear path; the no-``pairs`` brute force
    is for small scopes only. Output (id_a, id_b, containment ≥
    threshold, 6dp). Pairs where either side has no shingles (text
    shorter than ``shingle_k``) are excluded — containment against an
    empty set is undefined, not 1.
    """
    sh = ensure_parallelism(df).select(
        F.col(id_col), char_shingles(text_col, shingle_k).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    if pairs is not None:
        joined = pairs.join(a, "id_a").join(b, "id_b")
    else:
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    smaller = F.least(F.size("sh_a"), F.size("sh_b"))
    # integral 6dp rounding — see ngram_jaccard incremental variant
    from betl_spark.operators.util import round_ratio_expr

    return (
        joined.filter(smaller > 0)
        .select("id_a", "id_b", inter.alias("__i"), smaller.alias("__m"))
        .select(
            "id_a",
            "id_b",
            F.when(
                F.col("__m") > 0, round_ratio_expr("__i", "__m", 6)
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _checkpoint_with_checksum(edges: DataFrame) -> tuple:
    """Materialize one contraction round AND compute its convergence
    checksum in the SAME job: the (count, order-free hash sum) metrics
    ride the eager checkpoint's materialization as an
    ``observe()`` side-output (CollectMetrics accumulators), so each
    round is exactly ONE Spark action — no separate probe job. Equal
    checksums across rounds mean the star contraction reached its
    fixpoint. Returns (checkpointed_edges, (n, h)); the one-job cost
    is pinned by tests/test_round8_ops.py.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = materialize(
        edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: full-range longs would overflow ANSI bigint
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ),
        eager=True,
    )
    got = obs.get
    return out, (got["n"], got["h"])


def _cc_union_find_local(e: DataFrame) -> DataFrame:
    """Driver-side min-id union-find over a BOUNDED edge set — the
    small-graph fast path of ``_cc_large_small_star``. Collect is via
    Arrow (two columns), so the memory bound is ~16 bytes/edge plus the
    node map; the caller gates entry on the exact edge count it already
    holds from the convergence probe. Union-by-min keeps a component's
    minimum id as its root at every step, so the output (node,
    cluster_id=min reachable id) is identical to the distributed
    contraction's fixpoint.
    """
    id_type = e.schema["src"].dataType
    pdf = e.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    return local_rows(
        e.sparkSession,
        rows,
        T.StructType(
            [T.StructField("node", id_type), T.StructField("cluster_id", id_type)]
        ),
    )


def _cc_large_small_star(
    edges: DataFrame,
    max_iter: int,
    small_graph_edges: int = 200_000,
    edges_unique: bool = False,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm): provably O(log² n) rounds
    (O(log n) in practice), vs O(diameter) for plain min-label
    propagation, so whale components (celebrity documents duplicated
    across half the corpus, boilerplate chains) don't turn into
    hundred-round jobs.

    large-star: every node points its LARGER neighbors at the minimum
    of its neighborhood; small-star: every node and its smaller
    neighbors contract onto that minimum. Each phase is one
    groupBy(node) + join — the same shuffle shape as a round of
    min-label, but the tree flattens geometrically.

    Small-graph fast path: each distributed round carries a fixed
    driver cost that has nothing to do with data volume — measured at
    sf0.1, ~0.7s/round is Catalyst+AQE plan compilation inside the
    checkpoint call and only ~0.2s is the probe job, so a
    4-round contraction of a 4k-edge graph burns ~4s of pure fixed
    overhead. When the exact edge count (already computed by the first
    convergence probe) is ≤ ``small_graph_edges``, the edge list is
    collected (Arrow; ≤ ~3 MB at the default bound) and resolved with
    min-id union-find on the driver — the same class of bounded
    collect as a broadcast join's build side, with identical output.
    At 100 TB the near-dup graph far exceeds the bound and the
    distributed contraction runs unconditionally; pass
    ``small_graph_edges=0`` to force it (the plan-contract tests do).
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if not edges_unique:
        # guide §2.4: a distinct on data that is already unique is a
        # pure extra exchange — every in-repo pair generator emits
        # each unordered pair exactly once (map-side multi-key dedup /
        # grid orientation rules / terminal groupBy), so those callers
        # pass edges_unique=True and skip the shuffle; the flag only
        # skips DEDUP of the input edge list, never the src!=dst
        # filter, and duplicate edges would anyway not change
        # union-find or contraction RESULTS (only the fixpoint
        # checksum's multiset), which is why the default stays safe
        # for arbitrary input.
        e = e.distinct()
    # checkpoint + checksum share ONE job: the checksum rides the
    # materialization as observe() metrics — per-round scheduling
    # overhead is the dominant cost of contraction on small graphs
    # (bench: ~5s of semantic_dedup's 7.9s at sf0.1 was CC-round
    # scheduling) and pure fixed cost at cluster scale
    e, prev = _checkpoint_with_checksum(e)
    if prev[0] <= small_graph_edges:
        return _cc_union_find_local(e)
    for i in range(max_iter):
        # ---- large star ----
        nbrs = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = nbrs.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        e = (
            nbrs.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # ---- small star (orient edges large→small first) ----
        oriented = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()
        mins = oriented.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        contracted = (
            oriented.join(mins, "src")
            .select(F.col("dst").alias("node"), F.col("m"))
            .unionByName(mins.select(F.col("src").alias("node"), F.col("m")))
            .filter(F.col("node") != F.col("m"))
            .select(F.col("node").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # one action per round: the checksum is an observe() side-output
        # of the checkpoint materialization itself; probing every round
        # keeps the break at the earliest fixpoint — skipping probes was
        # measured slower, the extra no-change contraction rounds cost
        # more than the probe they save
        e, cur = _checkpoint_with_checksum(contracted)
        if cur == prev:
            break
        prev = cur
    # at the fixpoint every edge is (node → its component root)
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("cluster_id")).distinct()
    return (
        e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
        .unionByName(roots)
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "star",
    small_graph_edges: int = 200_000,
    edges_unique: bool = False,
) -> DataFrame:
    """Connected components over near-duplicate pairs: assigns every
    node the MINIMUM id reachable through the pair graph, i.e. a
    canonical cluster id per duplicate group. This is the step that
    turns pairwise match output (LSH / Jaccard / cosine pairs) into
    "keep one doc per cluster" — the reference has nothing iterative;
    its dedupe is exact-row only (betl/dataflow/dfl_changeRow.py:23-34).

    The default ``algorithm="star"`` is alternating large-star /
    small-star contraction (``_cc_large_small_star``): O(log n) rounds
    regardless of component shape, which is the 100 TB-safe choice —
    whale components (a boilerplate page duplicated across half the
    corpus) never turn into hundred-round jobs.
    ``algorithm="min_label"`` keeps plain propagation
      label(n) ← min(label(n), min over neighbors m of label(m))
    until fixpoint (≤ graph diameter rounds) as the validation
    alternative; both algorithms produce identical output (the
    property suite asserts it).

    Scale notes: each round is one shuffle join on node id, and
    a checkpoint truncates the lineage so the plan doesn't grow
    exponentially with rounds. The convergence test is a cheap count
    on the changed-label set. Graphs whose exact edge count is ≤
    ``small_graph_edges`` resolve with driver-side union-find instead
    (see ``_cc_large_small_star`` — the per-round fixed cost is driver
    plan compilation, pure overhead on a bounded graph); 0 disables.

    Output: (node, cluster_id) for every node appearing in ``pairs``
    with at least one REAL neighbor — self-pairs (x, x) are not a
    duplicate relationship and are ignored by all three paths
    (property-tested to agree on arbitrary graphs).
    """
    if algorithm == "star":
        undirected = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        return _cc_large_small_star(
            undirected, max_iter, small_graph_edges, edges_unique
        )
    if algorithm != "min_label":
        raise ValueError(f"algorithm must be 'min_label' or 'star', got {algorithm!r}")
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        # a self-pair (x, x) is not a duplicate relationship: drop it
        # here exactly like the star/union-find paths do, so all three
        # algorithms emit the same node set (property-tested)
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        eager=True,
    )
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=True,
    )
    for _ in range(max_iter):
        # best label any neighbor can offer this node
        offered = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("offered"))
        )
        new_labels = materialize(
            labels.join(offered, "node", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("offered", F.col("label"))).alias(
                    "label"
                ),
            ),
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Sub-document (line-level) deduplication — the C4/RefinedWeb
    boilerplate-removal step: any line occurring in ≥ ``min_docs``
    DISTINCT documents corpus-wide (headers, footers, nav chrome,
    license blobs) is dropped from EVERY document; document-unique
    lines survive in their original order.

    Output: (id, text [cleaned], n_lines_kept, n_lines_dropped). A
    document whose every line was boilerplate stays in the output with
    '' text — dropping rows is the caller's policy decision.

    Scale shape: two shuffles, both inherent to the semantics — the
    line-frequency groupBy (map-side combinable: local repeats collapse
    before the wire; the key is the line itself so identical lines
    co-locate) and the per-document reassembly groupBy. Counting
    DISTINCT docs (not occurrences) means a line repeated inside one
    document is NOT boilerplate. Reassembly is array_sort over
    (pos, line) structs — deterministic, no window.
    """
    # \Q...\E: F.split takes a Java REGEX; quote so a separator like
    # '.' or '|' is treated literally (array_join below is literal too)
    # coalesce: split(NULL) is NULL and posexplode would emit no rows,
    # silently dropping NULL-text docs — they must survive as ('' text,
    # 0 kept) rows like every other text operator here treats NULL
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("pos", "line"),
    )
    counts = lines.groupBy("line").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    kept = lines.join(counts, "line").filter(F.col("__nd") < min_docs)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("__total"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
        F.coalesce(F.col("__kept"), F.lit(0).cast("long")).alias("n_lines_kept"),
        (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0).cast("long"))).alias(
            "n_lines_dropped"
        ),
    )


def boilerplate_line_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    min_docs: int = 5,
    min_doc_frac: float = 0.0,
    sep: str = "\n",
) -> DataFrame:
    """CROSS-document boilerplate removal: a line appearing in ≥
    max(``min_docs``, ceil(``min_doc_frac`` × group size)) DISTINCT
    documents of its group (``group_col``, e.g. source/site; None =
    whole corpus) is stripped from every document. This is the corpus
    face of line dedup — C4 drops lines duplicated across its corpus,
    RefinedWeb strips per-site headers/footers/cookie banners; the
    intra-document rung (``intra_doc_line_dedup``) cannot see a footer
    that appears once per page across ten thousand pages.

    Scale shape: posexplode lines once; the boilerplate census is a
    distinct + count over (group, line) — the exchange carries (group,
    line-text, id) and combines map-side after the distinct; group
    sizes are an O(groups) broadcast. The frequent-line set joins back
    by (group, line) equi-join (bounded in practice — boilerplate is
    repetition by definition — but never ASSUMED broadcastable: AQE
    decides). Reassembly is one doc-key shuffle: collect_list of
    (pos, line) structs, array_sort, join — order exactly preserved.
    Documents whose every line is boilerplate survive with text ''
    (the line_dedup NULL rule: no document silently disappears).

    Output: (id, [group], text stripped, n_lines_kept,
    n_lines_dropped). Exact by construction — DuckDB replays the same
    census and reassembly, so the operator is oracle-verifiable.
    """
    # internal grouping key: NULL group values coalesce to a sentinel
    # (same rule as content_hash's NULL sentinel) — a plain equi-join
    # on a NULL group key never matches, so boilerplate inside a
    # NULL-group slice would silently never strip
    if group_col:
        gkey = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00NULL"))
        gcols = [group_col]
    else:
        gkey = F.lit("")
        gcols = []
    lines = df.select(
        F.col(id_col),
        *[F.col(c) for c in gcols],
        gkey.alias("__grp"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("__pos", "__line"),
    )
    sizes = df.groupBy(gkey.alias("__grp")).agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    census = (
        lines.select("__grp", "__line", id_col)
        .distinct()
        .groupBy("__grp", "__line")
        .agg(F.count(F.lit(1)).alias("__n"))
        .join(F.broadcast(sizes), "__grp")
    )
    frequent = census.filter(
        F.col("__n")
        >= F.greatest(
            F.lit(min_docs),
            F.ceil(F.lit(float(min_doc_frac)) * F.col("__n_docs")),
        )
    ).select("__grp", "__line", F.lit(1).alias("__bp"))
    kept = lines.join(frequent, ["__grp", "__line"], "left").filter(
        F.col("__bp").isNull()
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    n_orig = F.size(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
    )
    return (
        df.select(F.col(id_col), *[F.col(c) for c in gcols], n_orig.alias("__orig"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            *[F.col(c) for c in gcols],
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("__kept"), F.lit(0)).cast("long").alias("n_lines_kept"),
            (F.col("__orig") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def duplicate_cluster_sizes(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    **cluster_kwargs,
) -> DataFrame:
    """Dedup observability: the cluster-SIZE histogram of the duplicate
    graph — (cluster_size, n_clusters), e.g. "12,000 pairs collapse to
    9,800 two-member clusters and one 140-member whale". The whale tail
    is the operational signal: a single huge component means boilerplate
    or a template storm, and it is what makes O(diameter) clustering
    algorithms blow up — this report is how you SEE it before it costs
    a cluster-day.

    Scale shape: ``duplicate_clusters`` (its bounds apply) then two
    bounded aggregates — per-cluster counts (≤ |nodes| rows) and the
    histogram (≤ distinct sizes). Output sorted nowhere; order-free.
    """
    clusters = duplicate_clusters(pairs, id_a, id_b, **cluster_kwargs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def intra_doc_line_dedup(
    df: DataFrame, id_col: str, text_col: str, sep: str = "\n"
) -> DataFrame:
    """Remove duplicate lines WITHIN each document, keeping the first
    occurrence in place — the intra-document face of ``line_dedup``
    (C4/RefinedWeb drop repeated lines both corpus-wide and within a
    page; navigation menus and footers often repeat inside one page).

    Pure per-row array work: split → array_distinct (which preserves
    first-occurrence order) → rejoin. No shuffle, no UDF, whole-stage
    codegen — this runs at scan speed on any corpus size, the cheapest
    rung of the dedup ladder. NULL text survives as '' (the
    ``line_dedup`` NULL rule).

    Deliberately NOT a filter-with-index HOF: an
    array_position-inside-lambda formulation silently mis-binds its
    lambda variables when the expression appears more than once in a
    projection (observed on Spark 4.1: array_join said 3 elements
    while size said 2 in the SAME row) — array_distinct is
    semantically identical and immune.

    Output: (id, text with duplicate lines removed, n_lines_kept,
    n_lines_dropped).
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\\Q" + sep + "\\E")
    kept = F.array_distinct(lines)
    return df.select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_dropped"),
    )


def _substring_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    p: int,
    chunk_windows: int = 65536,
) -> DataFrame:
    """(id, off, h): the mod-p-selected k-char window fingerprints of
    every document. Windows are hashed AND selected INSIDE per-row
    array expressions, so the final Generate emits only the ~1/p
    fingerprints and never replicates the document text per window
    (plan-pinned: no Exchange below the generators).

    Per-row transient memory is BOUNDED regardless of document length
    (advisor finding, round 8: the unchunked form built the complete
    (len−k+1)-element struct array — ~35-40 B/char — before the mod-p
    filter, so one very long document could blow an executor): the
    window-start space [0, len−k] is first exploded into chunks of
    ``chunk_windows`` starts, and each chunk row builds only its own
    ≤ chunk_windows-element array (~2.5 MB transient at the default).
    Selection is content-defined (hash of the window, never its
    position), so chunking cannot change which fingerprints survive —
    equality with the unchunked form is pinned by test at
    chunk_windows=7. Offsets stay global to the document."""
    length = F.length(F.col(text_col))
    last = (length - F.lit(k)).cast("long")  # last valid window start
    # one md5 per CHARACTER of the corpus is the single heaviest map
    # pass in the dedup ladder — same treatment as minhash_signatures:
    # never let a one-split input serialize it on one core (no-op at
    # scale, where the scan has thousands of splits)
    chunked = (
        ensure_parallelism(df).filter(length >= k)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(0).cast("long"), last, F.lit(chunk_windows))
            ).alias("base"),
        )
    )
    last2 = (F.length(F.col(text_col)) - F.lit(k)).cast("long")
    fps = F.filter(
        F.transform(
            F.sequence(
                F.col("base"),
                F.least(F.col("base") + F.lit(chunk_windows - 1), last2),
            ),
            lambda off: F.struct(
                off.cast("long").alias("off"),
                F.md5(
                    F.substring(F.col(text_col), (off + 1).cast("int"), F.lit(k))
                ).alias("h"),
            ),
        ),
        lambda s: F.conv(F.substring(s["h"], 1, 8), 16, 10).cast("bigint")
        % p
        == 0,
    )
    return chunked.select(F.col(id_col), F.explode(fps).alias("s")).select(
        id_col,
        F.col("s")["off"].alias("off"),
        F.col("s")["h"].alias("h"),
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    p: int = 4,
    min_docs: int = 2,
    merge_gap: int = 64,
) -> DataFrame:
    """Cross-document repeated-SUBSTRING span detection — the
    character-level dedup class of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", ExactSubstr), done
    Spark-first with content-defined fingerprint sampling (Manber
    1994's sif / the MOSS fingerprinting family — public): verbatim
    boilerplate, license blocks, and quoted passages repeat across
    documents at arbitrary alignments, where line- and document-level
    dedup see nothing.

    Method: every k-char window of every document is hashed (md5 —
    engine-reproducible); a window is a FINGERPRINT iff its hash ≡ 0
    (mod p). Selection depends only on CONTENT, never on position, so
    two documents sharing a run of length L ≥ k share its fingerprints
    regardless of alignment — the property stride/grid sampling lacks
    — with expected density (L−k+1)/p. Fingerprints held by ≥
    ``min_docs`` DISTINCT documents are repeated content; per document
    their positions merge into maximal spans (consecutive hits ≤
    ``merge_gap`` apart, the sessionize gap rule), emitted as
    (id, span_start, span_end, n_fingerprints) with 0-based
    [start, end) char offsets. Trimming the spans (or dropping their
    docs) is the caller's policy, as in the paper.

    Scale shape: the offset explode emits one row per char, but the
    mod-p filter keeps ~1/p BEFORE any shuffle (codegen filter above
    the generator — the wire carries fingerprints, not windows); the
    repeat census is one map-side-combinable two-level aggregate on
    the hash; the hit join shuffles fingerprints only; span-merging is
    one per-doc window pass. No stage ever holds a whole document's
    windows in memory beyond the generator. A full suffix-array
    ExactSubstr finds repeats of ANY length ≥ threshold exactly;
    the sampled variant trades that for one-pass dataflow — repeats
    shorter than ~k + p go undetected (expected-miss ~p/(L−k+1)),
    the standard trade (tune k, p).
    """
    from pyspark.sql import Window

    # two consumers (the repeat census and the hit join) read the
    # fingerprint stream; without the checkpoint the per-window md5
    # pass runs twice (the semantic_dedup `assigned` pattern — measured
    # 7.5s -> 4.5s at sf0.1)
    wins = materialize(_substring_fingerprints(df, id_col, text_col, k, p))
    rep = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    hits = wins.join(rep, "h").select(id_col, "off")
    w = Window.partitionBy(id_col).orderBy("off")
    grp = (
        hits.withColumn(
            "brk",
            F.when(
                F.col("off") - F.lag("off").over(w) > merge_gap, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "g",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return grp.groupBy(id_col, "g").agg(
        F.min("off").alias("span_start"),
        (F.max("off") + F.lit(k)).alias("span_end"),
        F.count(F.lit(1)).alias("n_fingerprints"),
    ).drop("g")


def trim_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    start_col: str = "span_start",
    end_col: str = "span_end",
    out_col: str = "text_clean",
) -> DataFrame:
    """APPLY a span table to a corpus: cut every [start, end) char
    range out of its document — the trim step that turns
    ``repeated_substring_spans`` output into a cleaned corpus (Lee et
    al. 2022 drop or cut the repeated ranges; this is the cut).

    Row-local by construction: the spans collapse to one sorted array
    per document (one aggregation — spans per doc are bounded by
    text length / k, not corpus-scale), and the splice is a single
    higher-order fold that stitches the KEPT segments left to right —
    no per-character explode, no shuffle beyond the id-keyed span
    join. Overlapping spans are handled (the fold clamps each cut to
    the furthest end seen). Documents with no spans — including NULL
    text — pass through unchanged.

    Output: the input rows + (out_col, n_trimmed_chars).
    """
    text = F.col(text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(start_col).alias("s"), F.col(end_col).alias("e")
                )
            )
        ).alias("__sp")
    )
    keep_before = lambda acc, sp: F.when(
        sp["s"] > acc["pos"],
        F.substring(
            text,
            (acc["pos"] + 1).cast("int"),
            (sp["s"] - acc["pos"]).cast("int"),
        ),
    ).otherwise(F.lit(""))
    stitched = F.aggregate(
        "__sp",
        F.struct(
            F.lit(0).cast("long").alias("pos"), F.lit("").alias("acc")
        ),
        lambda acc, sp: F.struct(
            F.greatest(sp["e"], acc["pos"]).alias("pos"),
            F.concat(acc["acc"], keep_before(acc, sp)).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"],
            F.substring(
                text,
                (acc["pos"] + 1).cast("int"),
                (F.length(text) - acc["pos"]).cast("int"),
            ),
        ),
    )
    clean = F.when(F.col("__sp").isNull(), text).otherwise(stitched)
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(out_col, clean)
        .withColumn(
            "n_trimmed_chars",
            F.coalesce(
                F.length(text) - F.length(F.col(out_col)), F.lit(0)
            ).cast("long"),
        )
        .drop("__sp")
    )
