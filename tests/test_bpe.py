"""BPE training: golden merge sequence on a crafted corpus (hand-traced),
greedy merge-application semantics, and segmentation with the learned
vocabulary. Determinism across reruns is what makes a distributed tokenizer
trainer usable - same corpus, same merges, any partitioning."""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vectordb_data_ingestion_spark.operators.bpe import (
    apply_merge,
    bpe_segment_vectorized,
    bpe_train,
    pair_counts,
    word_freq_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


def test_bpe_train_golden(spark):
    """'low' x5, 'lower' x2, 'lowest' x3: chars l,o,w dominate.
    Hand-trace: (l,o) total 10 -> merge 'lo'; (lo,w) 10 -> 'low';
    then 'low</w>' x5 (w,</w> pair inside 'low' words) vs 'lowe' 5...
    pair (low,</w>)=5, (low,e)=5: tie breaks lexicographically -
    'low' == 'low', '</w>' < 'e' -> (low,</w>) first."""
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower lowest lowest lowest")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, num_merges=4)
    assert merges[0] == ("l", "o", 10)
    assert merges[1] == ("lo", "w", 10)
    assert merges[2] == ("low", "</w>", 5)
    assert merges[3] == ("low", "e", 5)


def test_apply_merge_greedy_left_to_right(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        apply_merge(
            F.array(*[F.lit(s) for s in ["a", "a", "a", "a", "a"]]), "a", "a"
        ).alias("out")
    )
    assert df.collect()[0]["out"] == ["aa", "aa", "a"]


def test_bpe_segment_uses_learned_merges(spark):
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower lowest lowest lowest")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, num_merges=4)
    seg = bpe_segment_vectorized(
        spark.createDataFrame([(1, "low lower")], "id int, text string"),
        merges,
    )
    toks = seg.collect()[0]["bpe_tokens"]
    # 'low' -> ['low</w>'], 'lower' -> ['lowe','r','</w>'] after 4 merges
    assert toks == ["low</w>", "lowe", "r", "</w>"]


def test_bpe_train_deterministic_on_driver_tables(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    a = bpe_train(docs, num_merges=6)
    b = bpe_train(docs.repartition(7), num_merges=6)
    assert a == b and len(a) == 6


def test_pair_counts_weighted_by_freq(spark):
    docs = spark.createDataFrame(
        [(0, "ab ab ab cd")], "doc_id long, text string"
    )
    vocab = word_freq_table(docs)
    rows = {
        (r["left"], r["right"]): r["total"]
        for r in pair_counts(vocab).collect()
    }
    assert rows[("a", "b")] == 3
    assert rows[("b", "</w>")] == 3
    assert rows[("c", "d")] == 1


def test_bpe_segment_ignores_surrounding_whitespace(spark):
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower lowest lowest lowest")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, num_merges=4)
    seg = bpe_segment_vectorized(
        spark.createDataFrame([(1, "  low lower \n")], "id int, text string"),
        merges,
    )
    assert seg.collect()[0]["bpe_tokens"] == ["low</w>", "lowe", "r", "</w>"]


def test_bpe_segment_vectorized_golden(spark):
    """Golden token streams for the learned merges: repeated words (cache
    hits), words unseen at training, leading/trailing whitespace, empty
    text, tabs/newlines as separators, and NULL text -> NULL, not []."""
    train_docs = spark.createDataFrame(
        [(0, "low low low low low lower lower lowest lowest lowest")],
        "doc_id long, text string",
    )
    merges = bpe_train(train_docs, num_merges=4)
    probe = spark.createDataFrame(
        [
            (0, "low lower lowest low"),
            (1, "  slow below  "),
            (2, ""),
            (3, "low\tlow\nlow"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bpe_tokens"] and list(r["bpe_tokens"])
        for r in bpe_segment_vectorized(probe, merges).collect()
    }
    assert got == {
        0: ["low</w>", "lowe", "r", "</w>", "lowe", "s", "t", "</w>", "low</w>"],
        1: ["s", "low</w>", "b", "e", "low</w>"],
        2: [],
        3: ["low</w>", "low</w>", "low</w>"],
        4: None,
    }
