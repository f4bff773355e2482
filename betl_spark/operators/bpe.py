"""Tokenizer-faithful BPE token counting.

``token_count`` (operators/text.py) is a whitespace/regex heuristic;
training-data mixtures specified in real tokens need an actual
byte-pair-encoding vocabulary. This module implements classic BPE
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public algorithm) twice:

- ``train_merges``: the reference trainer, pure Python, deterministic
  (ties broken lexicographically), run once at import over an embedded
  seed text to produce ``DEFAULT_MERGES`` (a GPT-2-style ordered merge
  list — swap in real trained merges for production).
- ``bpe_token_count``: APPLICATION of a merge list to a text column as
  a single Catalyst expression — no UDF, no Python in the hot path.

The application encoding is the whole trick. Each symbol is wrapped in
U+001F sentinels (``\\x1f sym \\x1f``) and words are separated by
U+001E, so one merge rule (x, y) -> xy is one literal
``replace(s, '\\x1fx\\x1f\\x1fy\\x1f', '\\x1fxy\\x1f')``:

- both symbols are fully delimited, so a rule can never match a prefix
  or suffix of a longer symbol ('a'+'b' never fires inside 'ab c');
- consecutive matches do NOT share characters (each symbol carries its
  own sentinels), so Java/DuckDB leftmost non-overlapping replace
  consumes runs exactly like the BPE left-to-right scan: 'aaaa' with
  rule (a,a) -> [aa, aa], not [aa, a, a];
- word boundaries (\\x1e) break sentinel adjacency, so merges never
  cross words — the GPT-2 pre-tokenizer contract.

Applying rules exhaustively IN TRAINING ORDER is equivalent to the
min-rank-pair loop: a merge only creates new symbols, never new
adjacency between pre-existing symbols, so an earlier rule can never
become applicable after a later one fires.

The token count is then (len(s) - len(strip sentinels)) / 2 — one
codegen arithmetic, no split/explode. Scale shape: a map-only
projection (|merges| sequential string passes per row), zero shuffle,
pushdown-safe; the merge list ships in the plan, not as data.

The same merge list drives the DuckDB oracle (contract/round6.py
generates the mirrored SQL), which is what makes the count
"tokenizer-faithful": both engines replay the identical vocabulary.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F, types as T

from betl_spark.io.readers import local_rows
from betl_spark.operators.util import materialize_tracked, release

SYM = "\x1f"  # symbol sentinel (unit separator)
BND = "\x1e"  # word boundary (record separator)

# Original seed text (written for this repo): common English words with
# enough repetition for stable merges. Deterministic stand-in for a
# real trained vocabulary, same role as the md5-derived hyperplanes in
# operators/similarity.py.
SEED_TEXT = (
    "the quick brown fox jumps over the lazy dog while the other dogs "
    "watch the fox and the dog run through the long grass in the light "
    "of the morning sun the water in the river runs past the town and "
    "the people of the town walk along the water every morning talking "
    "about the weather and the work of the day some of the people stop "
    "to watch the running water and the light on the river then return "
    "to their work in the town where the day goes on and on the longer "
    "the morning the better the light the runners run past the walkers "
    "walking and talking the talkers talk about running and walking"
)


def train_merges(text: str, n_merges: int = 60) -> list[tuple[str, str]]:
    """Classic BPE training: start from characters, repeatedly merge
    the most frequent adjacent symbol pair (ties broken by the
    lexicographically greatest pair — any fixed rule works, it just
    must be deterministic). Returns the ordered merge list."""
    words: Counter = Counter()
    for w in text.split():
        words[tuple(w)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for word, freq in words.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += freq
        if not pairs:
            break
        best = max(pairs, key=lambda p: (pairs[p], p))
        if pairs[best] < 2:
            break
        merges.append(best)
        merged: Counter = Counter()
        x, y = best
        for word, freq in words.items():
            out = []
            i = 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == x and word[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            merged[tuple(out)] += freq
        words = merged
    return merges


DEFAULT_MERGES: list[tuple[str, str]] = train_merges(SEED_TEXT, 60)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _encoded_expr(text_col: str, merges: list[tuple[str, str]] | None) -> str:
    if merges is None:
        merges = DEFAULT_MERGES
    # 1. drop sentinel chars from the data, 2. GPT-2-style pre-token
    #    boundaries (punctuation/number runs split off), 3. every
    #    boundary char -> \x1e, 4. wrap each remaining char in \x1f
    s = f"coalesce({text_col}, '')"
    s = f"replace(replace({s}, {_sql_quote(SYM)}, ''), {_sql_quote(BND)}, '')"
    s = f"regexp_replace({s}, '([^ \\\\w]|\\\\d+)', ' $1 ')"
    s = f"regexp_replace({s}, ' +', {_sql_quote(BND)})"
    s = f"regexp_replace({s}, '([^{BND}])', {_sql_quote(SYM + '$1' + SYM)})"
    for x, y in merges:
        s = (
            f"replace({s}, {_sql_quote(SYM + x + SYM + SYM + y + SYM)}, "
            f"{_sql_quote(SYM + x + y + SYM)})"
        )
    return s


def _pair_counts(words) -> "F.DataFrame":
    """Weighted adjacent-pair counts of a (enc, freq) word table — the
    explode + aggregate every trainer round runs; one definition so the
    full-recount and the delta path can never count differently."""
    syms = F.split(
        F.regexp_replace(F.col("enc"), f"^{SYM}|{SYM}$", ""), SYM + SYM
    )
    return (
        words.select(
            F.posexplode(F.slice(syms, 1, F.size(syms) - 1)).alias("i", "x"),
            syms.alias("__syms"),
            "freq",
        )
        .select(
            "x",
            F.element_at(F.col("__syms"), F.col("i") + 2).alias("y"),
            "freq",
        )
        .groupBy("x", "y")
        .agg(F.sum("freq").alias("c"))
    )


def train_merges_distributed(
    df,
    text_col: str,
    n_merges: int = 8,
    mode: str = "delta",
    round_seconds: list | None = None,
):
    """Learn the top-``n_merges`` BPE merges FROM the corpus — the
    distributed counterpart of ``train_merges`` (same algorithm, same
    deterministic tiebreak: highest weighted pair count, then the
    lexicographically greatest pair), using the same sentinel encoding
    and GPT-2-style pre-tokenizer as the application path, so the
    learned list drops straight into ``bpe_token_count``.

    The scale trick is the one Sennrich's reference implementation
    uses: the corpus is scanned ONCE to build the word-frequency table
    (groupBy on the sentinel-encoded pre-token — map-side combinable,
    the exchange carries |distinct words|, not |tokens|), and every
    merge round then iterates over that bounded table. A 100 TB corpus
    pays one scan total.

    ``mode`` picks the per-round cost model:

    - ``"delta"`` (default — the production path): the (x, y) → count
      table is maintained INCREMENTALLY. Only words containing the
      just-merged pair can change any pair count, so each round
      explodes just that affected subset — subtract its pre-merge pair
      counts, add its post-merge counts, fold into the running table
      (all exact BIGINT sums; the maintained table is provably equal
      to a fresh recount, pinned by test). Per-round explode cost
      falls with the affected-word fraction instead of staying
      O(|word table|): this is what makes a production 30-50k-merge
      vocabulary feasible — late rounds touch a vanishing tail of the
      vocabulary (measured in SCALE.md).
    - ``"full"``: recount every pair from the whole word table each
      round (Sennrich's plain formulation) — the validation
      alternative the delta path is equality-pinned against.

    Both modes take the argmax with the identical deterministic rule
    (count desc, then pair lexicographically greatest) and run ONE
    bounded 1-row collect per round.

    Returns a DataFrame (merge_rank, x, y, pair_count) — built from
    the K collected winners, so it is deterministic and trivially
    comparable across engines. Rounds stop early only if NO adjacent
    pair remains anywhere (degenerate corpora); there is deliberately
    no min-count cutoff so an independent engine can replay exactly K
    rounds. ``round_seconds``, if given a list, receives per-round
    wall seconds (the SCALE.md falling-round-cost measurement hook).
    """
    import time as _time

    if mode not in ("delta", "full"):
        raise ValueError(f"mode must be 'delta' or 'full', got {mode!r}")
    spark = df.sparkSession
    base = F.expr(_encoded_expr(text_col, []))
    words = (
        df.select(F.explode(F.split(base, BND)).alias("enc"))
        .filter(F.col("enc") != "")
        .groupBy("enc")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    merges: list[tuple[str, str, int]] = []
    if mode == "delta":
        # Delta-mode invariants, each load-bearing (the naive loop was
        # measured 18x slower by round 16 and diverging):
        # - the no-shuffle words union DOUBLES the partition count per
        #   round (kept ∪ merged) — coalesce back to the initial
        #   post-shuffle count or round 15 runs 32·2^15 tasks;
        # - checkpoints are EAGER: an RDD materialized only inside
        #   AQE-submitted map stages never runs doCheckpoint, so a
        #   lazy checkpoint in this loop shape never truncates and
        #   task closures grow without bound;
        # - the previous round's cached tables are dead once the new
        #   ones materialize — unpersist them or a 50k-merge run leaks
        #   2 vocab-sized cached tables per round.
        words, _w_ids = materialize_tracked(words)
        n_parts = words.rdd.getNumPartitions()
        pairs, _p_ids = materialize_tracked(_pair_counts(words))
        live_ids = _w_ids | _p_ids
    else:
        pairs = None
        # full mode re-scans the word table every round — checkpoint it
        # (tracked, so the final cleanup frees it) or each round replays
        # the corpus scan + groupBy
        words, live_ids = materialize_tracked(words)
    for _ in range(n_merges):
        t0 = _time.perf_counter()
        if mode == "full":
            pairs = _pair_counts(words)
        best = pairs.orderBy(
            F.desc("c"), F.desc("x"), F.desc("y")
        ).limit(1).collect()
        if not best:
            break
        x, y, c = best[0]["x"], best[0]["y"], int(best[0]["c"])
        merges.append((x, y, c))
        pat = SYM + x + SYM + SYM + y + SYM
        rep = SYM + x + y + SYM
        apply_merge = F.expr(
            f"replace(enc, {_sql_quote(pat)}, {_sql_quote(rep)})"
        ).alias("enc")
        if mode == "full":
            old_ids = live_ids
            words, live_ids = materialize_tracked(
                words.select(apply_merge, "freq")
            )
            release(spark, old_ids)
            if round_seconds is not None:
                round_seconds.append(_time.perf_counter() - t0)
            continue
        # delta: only words CONTAINING the merged pair change any count
        affected = words.filter(F.col("enc").contains(pat))
        merged = affected.select(apply_merge, "freq")
        old_ids = live_ids
        pairs, _p_ids = materialize_tracked(
            pairs.unionByName(
                _pair_counts(affected).select("x", "y", (-F.col("c")).alias("c"))
            )
            .unionByName(_pair_counts(merged))
            .groupBy("x", "y")
            .agg(F.sum("c").alias("c"))
            .filter(F.col("c") > 0)
        )
        words, _w_ids = materialize_tracked(
            words.filter(~F.col("enc").contains(pat))
            .unionByName(merged)
            .coalesce(n_parts)
        )
        live_ids = _p_ids | _w_ids
        # the new tables are materialized — the previous round's blocks
        # are unreachable, free them NOW (not at GC's leisure)
        release(spark, old_ids)
        if round_seconds is not None:
            round_seconds.append(_time.perf_counter() - t0)
    # the merges are collected; the loop's working tables are dead —
    # leave the block manager exactly as we found it
    release(spark, live_ids)
    return local_rows(
        spark,
        [(i + 1, x, y, c) for i, (x, y, c) in enumerate(merges)],
        T.StructType.fromDDL(
            "merge_rank int, x string, y string, pair_count long"
        ),
    )


def bpe_token_count(
    text_col: str, merges: list[tuple[str, str]] | None = None
) -> F.Column:
    """Exact BPE token count under ``merges`` (default
    ``DEFAULT_MERGES``) as a single codegen expression: each symbol
    carries exactly two \\x1f sentinels, so the count is
    (len(encoded) - len(encoded minus sentinels)) / 2."""
    enc = _encoded_expr(text_col, merges)
    # count sentinels with ONE reference to the encode chain: the
    # previous length(enc) - length(replace(enc, ...)) form embedded
    # the whole |merges|-deep replace chain TWICE per row (Catalyst
    # has no expression-level CSE for textual duplicates)
    return F.expr(
        f"CAST(regexp_count({enc}, {_sql_quote(SYM)}) / 2 AS INT)"
    )
