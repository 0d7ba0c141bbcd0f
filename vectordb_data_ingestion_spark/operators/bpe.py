"""Distributed BPE tokenizer training (Sennrich et al. 2016, public
literature). The reference only *counts* tokens with a fixed tiktoken
vocabulary (sharepointutils.py:364); a training-data pipeline also needs to
TRAIN vocabularies on its own corpus.

The classic scalable formulation: BPE statistics depend only on the
word-frequency table, not the corpus - so the corpus-sized work is ONE
groupBy(word) shuffle producing a vocabulary table that is orders of
magnitude smaller (Zipf), and every merge iteration runs on that small
table:

1. represent each distinct word as an array of symbols (initially
   characters),
2. count adjacent symbol pairs weighted by word frequency (narrow gram
   projection + one partial-aggregated shuffle over the vocab table),
3. take the best pair (max count, ties -> lexicographically smallest -
   fully deterministic, engine-reproducible),
4. apply the merge to every word's symbol array (greedy left-to-right,
   a pure array fold - no shuffle), localCheckpoint so iteration N+1
   doesn't replay N lineages,
5. repeat.

At 100 TB the only corpus-scale stage is step 0's word count; iterations
touch vocab-table-sized data (typically < 10M rows) regardless of corpus
size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark.functions.text import word_split


def word_freq_table(
    df: DataFrame, text_col: str = "text", end_token: str = "</w>"
) -> DataFrame:
    """(word, freq, symbols): the corpus collapsed to its vocabulary, each
    word split into character symbols with an end-of-word marker appended
    (standard BPE so merges can't cross word boundaries)."""
    words = df.select(
        F.explode(word_split(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    return wf.withColumn(
        "symbols",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit(end_token))),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, total): adjacent-symbol pair counts weighted by word
    frequency. Narrow projection + one partial-aggregated shuffle keyed by
    the pair."""
    n = F.size("symbols")
    pairs = vocab.select(
        "freq",
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(0), n - 2),
                    lambda i: F.struct(
                        F.element_at("symbols", i + 1).alias("left"),
                        F.element_at("symbols", i + 2).alias("right"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<left:string,right:string>>")),
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.left").alias("left"), F.col("p.right").alias("right")
    ).agg(F.sum("freq").cast("bigint").alias("total"))


def apply_merge(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge to a symbol array: a
    pure fold, no shuffle. After a merge the combined token never re-merges
    with the following symbol in the same pass (the fold compares the
    PRE-merge tail), matching reference BPE's non-overlapping scan."""
    merged = left + right
    empty = F.array().cast("array<string>")
    return F.aggregate(
        symbols,
        F.struct(empty.alias("out"), F.lit(False).alias("just_merged")),
        lambda acc, s: F.when(
            (F.size(acc["out"]) > 0)
            & ~acc["just_merged"]
            & (F.element_at(acc["out"], -1) == F.lit(left))
            & (s == F.lit(right)),
            F.struct(
                F.concat(
                    F.slice(acc["out"], 1, F.size(acc["out"]) - 1),
                    F.array(F.lit(merged)),
                ).alias("out"),
                F.lit(True).alias("just_merged"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["out"], F.array(s)).alias("out"),
                F.lit(False).alias("just_merged"),
            )
        ),
        lambda acc: acc["out"],
    )


def bpe_train(
    corpus: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns ``[(left, right, count)]``
    in merge order. Deterministic: ties on count break to the
    lexicographically smallest (left, right), so the same corpus always
    yields the same vocabulary on any engine or cluster size."""
    vocab = word_freq_table(corpus, text_col).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        top = (
            pair_counts(vocab)
            .orderBy(F.desc("total"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["total"] < min_pair_count:
            break
        left, right, total = top[0]["left"], top[0]["right"], top[0]["total"]
        merges.append((left, right, total))
        vocab = vocab.withColumn(
            "symbols", apply_merge(F.col("symbols"), left, right)
        ).localCheckpoint()
    return merges


def bpe_segment_vectorized(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    end_token: str = "</w>",
) -> DataFrame:
    """Tokenize text with a learned merge list: split on whitespace
    (empty tokens from leading/trailing whitespace dropped, matching
    training's vocabulary), split each word to characters plus
    ``end_token``, and apply every merge in training order, greedy
    left-to-right as :func:`apply_merge` does. NULL text gives NULL
    tokens; empty or all-whitespace text gives ``[]``.

    Executed as an Arrow-batched ``mapInPandas`` with a per-task
    word->tokens cache: word frequency is Zipf, so the same few thousand
    distinct words cover almost all occurrences and the per-occurrence
    cost is a dict lookup; only first-seen words pay the merge scan. The
    merge list ships in the UDF closure (tiny - it IS the tokenizer), so
    there is no join and no shuffle: a pure narrow map."""
    import re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from vectordb_data_ingestion_spark.functions.text import (
        _WS,
        make_word_tokenizer,
    )

    ws = re.compile(_WS)
    merge_pairs = [(l, r) for l, r, _ in merges]
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(StringType()))]
    )
    # the shared merge-loop closure (functions/text.py) — one word cache
    # per task, alive across every Arrow batch the generator sees
    tokenize = make_word_tokenizer(merge_pairs, end_token)

    def segment(batches):
        for pdf in batches:
            # NULL text -> NULL tokens, not []: F.size()/posexplode
            # downstream tell the two apart
            toks = [
                None
                if txt is None
                else [
                    t
                    for w in ws.sub(" ", txt).split(" ")
                    if w
                    for t in tokenize(w)
                ]
                for txt in pdf[text_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf

    return df.mapInPandas(segment, schema=out_schema)
