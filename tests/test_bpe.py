"""BPE token counting: trainer determinism, application fidelity
(the Catalyst replace-chain vs a direct Python implementation of the
Sennrich merge loop), and the zero-shuffle plan shape."""

import re

import pytest

from betl_spark.operators import bpe


def apply_reference(text: str | None, merges) -> int:
    """Direct Python BPE application (per-word min-scan merge loop) —
    the semantics the replace-chain encoding must reproduce."""
    t = (text or "").replace(bpe.SYM, "").replace(bpe.BND, "")
    t = re.sub(r"([^ \w]|\d+)", r" \1 ", t, flags=re.ASCII)
    n = 0
    for w in re.split(r" +", t):
        if not w:
            continue
        syms = list(w)
        for x, y in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        n += len(syms)
    return n


def test_trainer_is_deterministic_and_ordered():
    m1 = bpe.train_merges(bpe.SEED_TEXT, 60)
    m2 = bpe.train_merges(bpe.SEED_TEXT, 60)
    assert m1 == m2 == bpe.DEFAULT_MERGES
    assert len(m1) == 60
    # every merged symbol is built from previously available symbols
    available = set("abcdefghijklmnopqrstuvwxyz")
    for x, y in m1:
        assert set(x) | set(y) <= set(bpe.SEED_TEXT)
        available.add(x + y)


def test_trainer_merges_most_frequent_pair_first():
    merges = bpe.train_merges("aa aa aa ab", 2)
    assert merges[0] == ("a", "a")


@pytest.mark.parametrize(
    "text",
    [
        None,
        "",
        "aaaa",                      # self-adjacent run: [aa, aa] not [aa, a, a]
        "aaaaaa",
        "the quick brown fox!!",
        "running walking talking",
        "a" * 257,                   # odd-length run
        "multi  spaces\tand\nlines",
        "numbers 12345 mixed99words",
        "\x1f\x1esentinel chars stripped\x1f",
    ],
)
def test_spark_matches_python_reference(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = df.select(bpe.bpe_token_count("text").alias("n")).first()["n"]
    assert got == apply_reference(text, bpe.DEFAULT_MERGES)


def test_spark_matches_python_reference_on_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    rows = docs.select("doc_id", "text", bpe.bpe_token_count("text").alias("n")).collect()
    for r in rows:
        assert r.n == apply_reference(r.text, bpe.DEFAULT_MERGES), r.doc_id


def test_bpe_count_never_exceeds_char_count(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    from pyspark.sql import functions as F

    bad = (
        docs.select(
            bpe.bpe_token_count("text").alias("n"),
            F.length("text").alias("c"),
        )
        .filter(F.col("n") > F.col("c"))
        .count()
    )
    assert bad == 0


def test_bpe_count_is_zero_shuffle_projection(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.select("doc_id", bpe.bpe_token_count("text").alias("n"))
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning reaches the scan: only doc_id + text are read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id",
        "text",
    }


def test_train_merges_distributed_matches_reference_trainer(spark):
    # identical corpus, identical algorithm: the distributed trainer
    # must reproduce the pure-Python reference merge-for-merge
    # (whitespace-only text, so both pre-tokenizers see the same words)
    from betl_spark.operators import bpe

    text = "low lower lowest low low newer newest new wide wider widest"
    df = spark.createDataFrame([(text,)], "text string")
    got = [
        (r.x, r.y)
        for r in bpe.train_merges_distributed(df, "text", n_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    exp = bpe.train_merges(text, 6)
    assert got == exp


def test_train_merges_distributed_feeds_token_count(spark):
    # the learned list drops straight into the codegen counter
    from betl_spark.operators import bpe

    df = spark.createDataFrame(
        [("aaab aaab aaab",), ("aaab b",)], "text string"
    )
    learned = [
        (r.x, r.y)
        for r in bpe.train_merges_distributed(df, "text", n_merges=3)
        .orderBy("merge_rank")
        .collect()
    ]
    counts = {
        r.text: r.n
        for r in df.select(
            "text", bpe.bpe_token_count("text", learned).alias("n")
        ).collect()
    }
    # merges learned from the corpus compress 'aaab' below 4 chars/word
    assert counts["aaab aaab aaab"] < 12
    assert counts["aaab b"] >= counts["aaab aaab aaab"] / 3


def test_delta_mode_equals_full_recount_and_reference(spark):
    # the incrementally-maintained pair table must be provably equal to
    # a fresh recount: same merges, same counts, round for round — and
    # both must equal the pure-Python reference trainer
    from betl_spark.operators import bpe

    text = (
        "low lower lowest low low newer newest new wide wider widest "
        "slow slower slowest slowly widely newly lowly"
    )
    df = spark.createDataFrame([(text,)], "text string")
    rows = lambda mode: [
        (r.merge_rank, r.x, r.y, r.pair_count)
        for r in bpe.train_merges_distributed(df, "text", n_merges=8, mode=mode)
        .orderBy("merge_rank")
        .collect()
    ]
    delta, full = rows("delta"), rows("full")
    assert delta == full
    assert [(x, y) for _, x, y, _ in delta] == bpe.train_merges(text, 8)


def test_delta_mode_on_real_documents(spark):
    # mixed punctuation/number corpus: the pre-tokenizer boundaries and
    # the delta maintenance must agree with the full recount on real
    # testdata, not just toy words
    from betl_spark.operators import bpe

    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text")
        .limit(200)
    )
    rows = lambda mode: [
        tuple(r)
        for r in bpe.train_merges_distributed(df, "text", n_merges=6, mode=mode)
        .orderBy("merge_rank")
        .collect()
    ]
    assert rows("delta") == rows("full")


@pytest.mark.parametrize("mode", ["delta", "full"])
def test_delta_mode_frees_checkpoint_blocks(spark, mode):
    # ADVICE r8: DataFrame.rdd.unpersist was a no-op (fresh mapped RDD,
    # storage NONE), so delta rounds leaked 2 vocab-sized checkpointed
    # tables each. The fix tracks the checkpointed RDD ids through the
    # JVM block manager — after training, the block manager must hold
    # exactly what it held before (the leak test the advice asked for).
    from betl_spark.operators import bpe
    from betl_spark.operators.util import persistent_rdd_ids

    text = "low lower lowest low low newer newest new wide wider widest"
    df = spark.createDataFrame([(text,)], "text string")
    before = persistent_rdd_ids(spark)
    out = bpe.train_merges_distributed(df, "text", n_merges=8, mode=mode)
    assert out.count() == 8
    after = persistent_rdd_ids(spark)
    leaked = after - before
    assert not leaked, f"checkpoint blocks leaked: {leaked}"
