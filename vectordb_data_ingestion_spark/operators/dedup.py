"""Deduplication operators for large-scale training-data pipelines.

North-star extensions beyond the reference (BASELINE.json): the reference
only ever dedups file types via ``set()`` (sharepointutils.py:110-117); a
100 TB corpus needs content-level dedup. Five strategies, all shuffle-aware:

- :func:`exact_dedup`          - content-hash groupBy (one shuffle on the
  hash; map-side partial agg collapses duplicates early).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` - Jaccard near-dup
  at scale: shingle -> K seeded min-hashes -> band hashes -> bucket equi-join.
  Candidate generation is an equi-join on (band, band_hash) so Spark hash-
  partitions it - no quadratic blowup; verification computes exact Jaccard
  only on candidates.
- :func:`simhash` / :func:`simhash_pairs` - Hamming-distance near-dup:
  B-bit signature via per-bit vote aggregation (single narrow projection),
  pairs via same-signature buckets (or rotate-band buckets for distance>0).
- :func:`ngram_jaccard_pairs`  - exact Jaccard within cheap blocking keys
  (language + length band) - the quadratic fallback, bounded per block.
- :func:`embedding_near_dup_pairs` - cosine near-dup via sign-bit LSH
  buckets over the embedding itself, verify with exact cosine.

Every hash is the cross-engine md5-based 32-bit hash (functions.hashing) so
each operator is DuckDB-oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CC_LOG = logging.getLogger(__name__)

from vectordb_data_ingestion_spark.functions.hashing import (
    md5_hash32,
    md5_hash32_sql,
    md5_hash60_seeded,
    md5_hash60_seeded_sql,
)
from vectordb_data_ingestion_spark.functions.text import word_split
from vectordb_data_ingestion_spark.functions.vectors import (
    dot_product,
    l2_norm,
    to_double_array,
)


# ---------------------------------------------------------------------------
# Exact
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (lowest id) per distinct text. Hash first so the shuffle
    key is 32 bytes, not the document body."""
    hashed = df.withColumn("__h", F.md5(F.col(text_col)))
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return (
        hashed.join(keep, ["__h", id_col], "inner")
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# Shingles / MinHash
# ---------------------------------------------------------------------------

def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side: split ->
    sequence -> slice -> array_distinct).

    The word array is BOUND as a lambda variable (``transform(array(words),
    w -> ...)``) before the per-start slices: an expression referenced
    inside a higher-order-function lambda body is re-evaluated per element,
    so the unbound form re-ran the whitespace regex split once per gram
    start — O(words²) per document (measured 1.9x on the sf0.1 corpus;
    the same unbound pattern made winnowing fingerprints 41x slower)."""
    words = word_split(col)

    def grams(w: Column) -> Column:
        starts = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
        return F.transform(
            starts, lambda i: F.array_join(F.slice(w, i + 1, n), " ")
        )

    return F.array_distinct(F.flatten(F.transform(F.array(words), grams)))


def shingles_sql(expr: str, n: int = 3) -> str:
    return (
        f"list_distinct(list_transform("
        f"range(0, greatest(len(string_split(regexp_replace({expr}, '[ \\x09-\\x0D]+', ' ', 'g'), ' ')) - {n}, 0) + 1), "
        f"i -> array_to_string(string_split(regexp_replace({expr}, '[ \\x09-\\x0D]+', ' ', 'g'), ' ')[i + 1 : i + {n}], ' ')))"
    )


_MINHASH_P32 = 1 << 32


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) for the universal-hash minhash family
    ``h_k(x) = (a_k * h(x) + b_k) mod 2^32`` (Broder's scheme with linear
    mixing instead of K independent base hashes). a_k is odd and < 2^30 so
    ``a_k * h`` stays under 2^62 - no overflow in either Spark longs or
    DuckDB BIGINTs."""
    return [
        (
            ((2654435761 * (k + 1)) % (1 << 30)) | 1,
            (2246822519 * (k + 1) + 3266489917) % _MINHASH_P32,
        )
        for k in range(num_hashes)
    ]


def minhash_sig_spark_sql(sh_expr: str, num_hashes: int) -> str:
    """Spark-SQL text of :func:`minhash_sig_from_shingles` over the shingle
    expression ``sh_expr``. Assembling the K-hash mixing array through the
    Column API costs ~100 driver round trips per call (~0.5 s of pure
    plan-construction time); one parsed string is a single round trip with
    a bit-identical expression tree."""
    params = minhash_params(num_hashes)
    zero = ", ".join([f"cast({_MINHASH_P32} as long)"] * num_hashes)
    mixed = ", ".join(
        f"(h * {a} + {b}) % {_MINHASH_P32}" for a, b in params
    )
    h32 = "cast(conv(substring(md5(x), 1, 8), 16, 10) as long)"
    return (
        f"aggregate(transform({sh_expr}, x -> {h32}), array({zero}), "
        f"(acc, h) -> zip_with(acc, array({mixed}), (p, q) -> least(p, q)))"
    )


def minhash_sig_from_shingles(sh: Column | str, num_hashes: int) -> Column:
    """K-element minhash signature from a shingle-array column in ONE pass.

    Naive form - ``array_min(transform(sh, h_k))`` per k - re-evaluates the
    shingle array and runs a full md5 pass per hash function after Catalyst
    collapses projections (measured 16x slower at K=16). Here the md5 runs
    once per shingle (``transform``), and a single ``aggregate`` folds the K
    mixed values into running minimums; the lambda variable binds the base
    hash so the K uses don't duplicate the md5 expression tree.

    A plain column NAME takes the parsed-SQL fast path
    (:func:`minhash_sig_spark_sql`); arbitrary Column expressions keep the
    loop-built form."""
    if isinstance(sh, str):
        return F.expr(minhash_sig_spark_sql(f"`{sh}`", num_hashes))
    params = minhash_params(num_hashes)
    zero = F.array(*[F.lit(_MINHASH_P32).cast("long")] * num_hashes)
    return F.aggregate(
        F.transform(sh, lambda x: md5_hash32(x)),
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (h * F.lit(a) + F.lit(b)) % F.lit(_MINHASH_P32)
                    for a, b in params
                ]
            ),
            lambda p, q: F.least(p, q),
        ),
    )


def minhash_sig_sql_terms(sh_expr: str, num_hashes: int) -> list[str]:
    """DuckDB oracle terms, one per signature element (same family; the
    oracle runs at tiny scale so the K-pass form is fine there)."""
    h = md5_hash32_sql("x")
    return [
        f"list_min(list_transform({sh_expr}, x -> ({h} * {a} + {b}) % {_MINHASH_P32}))"
        for a, b in minhash_params(num_hashes)
    ]


def jaccard_of(a: str | Column, b: str | Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) array columns,
    rounded to 6dp — the verification predicate shared by the batch
    (:func:`minhash_lsh_pairs`) and streaming near-dup paths."""
    return F.round(
        F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)), 6
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) where sig[k] = min over shingles of hash family k. One
    narrow projection - no shuffle, no UDF, one md5 pass total."""
    sh = shingles(F.col(text_col), shingle_n)
    return df.select(
        F.col(id_col), minhash_sig_from_shingles(sh, num_hashes).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    materialize_signatures: bool = True,
) -> DataFrame:
    """Near-duplicate pairs: band the signature, bucket-join on
    (band_index, band_hash), verify candidates with exact Jaccard.

    The join key is an equality on the band hash -> plain hash-partitioned
    equi-join; work scales with bucket sizes, not corpus^2.

    ``materialize_signatures``: the bucket join is a self-join, and Spark
    re-executes the shingle+signature lineage for EACH side (4 scans, double
    the md5 work - visible in the physical plan). Materializing the shingle
    and banded tables once (``localCheckpoint``) halves the compute; it is
    exactly what a 100 TB pipeline does by writing the signature table out
    before the join. Set False to keep the plan fully lazy (e.g. under a
    streaming source where checkpointing eagerly is illegal).

    Payload discipline: the banded table carries ONLY ``(id, band,
    band_hash)`` - never the shingle arrays. Banding the shingles would
    replicate every doc's shingle set x bands x 2 join sides through the
    checkpoint and the bucket-join shuffle; instead the (far smaller)
    candidate-pair set joins the shingle table back by id for exact-Jaccard
    verification. At 100 TB that is the difference between shuffling the
    corpus text ~8x and shuffling it twice.

    Join strategy (r5, learned live from the x100 scale probe): every
    side here GROWS WITH THE CORPUS (banded rows, candidate pairs,
    shingle sets), so no side is ever force-broadcast and no strategy is
    pinned — AQE's runtime stats pick broadcast while a side is small
    and sort-merge (which spills) once it is not. The protection against
    the probe's failure mode ('Not enough memory to build and broadcast'
    at 2M banded rows whose ~43 MB estimate passed a 64 MB gate while
    the hash-relation build took several times that) is engine-level:
    ``session.py`` sizes ``autoBroadcastJoinThreshold`` at 16m so that
    anything passing the gate can always be BUILT, at any scale."""
    sh_tbl, banded = banded_signature_table(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        materialize=materialize_signatures,
    )
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cand = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sh_tbl.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a")),
        "id_a",
    ).join(
        sh_tbl.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b")),
        "id_b",
    )
    return (
        pairs.withColumn("jaccard", jaccard_of("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def banded_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The two LSH build products: the shingle table ``(id, __sh)`` and the
    banded table ``(id, band, band_hash)``. The banded table deliberately
    excludes the shingle payload so the bucket-join shuffle carries three
    scalar columns per row; verification joins ``sh_tbl`` back by id."""
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"bands={bands} must be in [1, num_hashes={num_hashes}]: more "
            "bands than hashes gives every document the same empty-band "
            "hash, turning the bucket join into a full O(n^2) cross "
            "product"
        )
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands}: "
            f"the trailing {num_hashes % bands} signature elements would "
            "be silently dropped (weaker LSH than requested)"
        )
    rows_per_band = num_hashes // bands
    sh_tbl = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__sh")
    )
    if materialize:
        # LAZY checkpoint (r11): ``banded``'s eager checkpoint below is the
        # materializing action — its lineage reads ``sh_tbl`` exactly once
        # (the signature projection), so the shingle table is cached as a
        # side effect of the one job that was already being paid, instead
        # of a second driver job of its own. The later verification joins
        # (two reads) see the already-materialized RDD — the double-compute
        # race the eager form prevented still cannot occur.
        sh_tbl = sh_tbl.localCheckpoint(eager=False)
    sigs = sh_tbl.withColumn(
        "signature", minhash_sig_from_shingles("__sh", num_hashes)
    )
    # band-hash array as ONE parsed expression (same tree the loop-built
    # Column form produced, minus ~30 driver round trips per call)
    band_terms = ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    banded = sigs.select(
        id_col,
        F.posexplode(F.expr(f"array({band_terms})")).alias("band", "band_hash"),
    )
    if materialize:
        banded = banded.localCheckpoint()
    return sh_tbl, banded


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """B-bit SimHash: per word-hash, vote +1/-1 on each bit; signature bit j
    is 1 iff the vote sum is positive. Pure projection (aggregate over the
    word array) - no shuffle.

    The base word hash is 60-bit, so ``bits`` up to 60 are all informative -
    a 32-bit base hash would silently zero every bit past 31, collapsing the
    signature space (and any bucketing built on it)."""
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (60-bit base hash)")
    words = F.array_distinct(word_split(F.col(text_col)))
    hashes = F.transform(words, lambda w: md5_hash60_seeded(w, 0))
    staged = df.select(F.col(id_col), hashes.alias("__hashes"))

    # bit index must be a python int (F.shiftright takes a literal count)
    def vote(j: int) -> Column:
        return F.aggregate(
            F.col("__hashes"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(1) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long"),
        )

    sig = None
    for j in range(bits):
        term = F.when(vote(j) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return staged.select(F.col(id_col), sig.alias("simhash"))


def simhash_sql(expr: str, id_expr: str, table: str, bits: int = 16) -> str:
    """DuckDB oracle for :func:`simhash` (same vote semantics)."""
    w = f"list_distinct(string_split(regexp_replace({expr}, '[ \\x09-\\x0D]+', ' ', 'g'), ' '))"
    h = md5_hash60_seeded_sql("x", 0)
    votes = ", ".join(
        f"list_sum(list_transform({w}, x -> CASE WHEN ({h} >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END))"
        for j in range(bits)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v[{j + 1}] > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(bits)
    )
    return (
        f"SELECT CAST({id_expr} AS BIGINT) AS doc_id, "
        f"CAST({bit_sum} AS BIGINT) AS simhash "
        f"FROM (SELECT {id_expr}, [{votes}] AS v FROM {table})"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    materialize_signatures: bool = True,
) -> DataFrame:
    """Candidate pairs whose SimHash Hamming distance <= ``max_hamming``.
    Buckets on the signature split into (max_hamming+1) segments - by the
    pigeonhole principle two signatures within the distance share at least
    one exact segment, so candidates come from equi-joins, never a cross
    join. Signatures are materialized once before the self-join (see
    ``minhash_lsh_pairs``)."""
    segs = max_hamming + 1
    if bits < segs:
        raise ValueError(
            f"bits={bits} must be >= max_hamming+1={segs}: the pigeonhole "
            "bucketing needs at least one bit per segment, otherwise every "
            "row lands in one bucket and the candidate join is a full "
            "O(n^2) cross product"
        )
    seg_bits = bits // segs
    sh = simhash(df, text_col, id_col, bits)
    if materialize_signatures:
        sh = sh.localCheckpoint()
    mask = (1 << seg_bits) - 1
    banded = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", s * seg_bits).bitwiseAND(mask)
                    for s in range(segs)
                ]
            )
        ).alias("seg", "seg_val"),
    )
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "seg", "seg_val"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "seg", "seg_val"
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["seg", "seg_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Blocked exact Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = (),
    shingle_n: int = 3,
    threshold: float = 0.5,
    materialize_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocking keys. Quadratic *per
    block* - use when blocks are known-small; otherwise use minhash LSH.
    Shingle sets are materialized once before the self-join (see
    ``minhash_lsh_pairs``)."""
    base = df.select(
        F.col(id_col), *block_cols, shingles(F.col(text_col), shingle_n).alias("__sh")
    )
    if materialize_shingles:
        base = base.localCheckpoint()
    left = base.select(
        F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"), *block_cols
    )
    right = base.select(
        F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"), *block_cols
    )
    joined = (
        left.join(right, list(block_cols)) if block_cols else left.crossJoin(right)
    ).filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.withColumn("jaccard", jaccard_of("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Duplicate clustering (pairs -> components -> keep one representative)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve candidate pairs into duplicate clusters: ``(node, component)``
    where ``component`` is the minimum id reachable from ``node``.

    The pair generators above (minhash/simhash/ngram/embedding) emit *edges*;
    an actual dedup pass has to delete all-but-one member per *connected
    component* (A~B and B~C must collapse A,B,C together even if A~C was
    never a candidate pair).

    Algorithm: distributed min-label propagation with pointer jumping.
    Each round does
      1. hash-min: ``label(v) = min(label(v), min over neighbors u of
         label(u))`` - one equi-join of edges with labels + groupBy min;
      2. short-cut: ``label(v) = prev_label(label(v))`` - one join against
         the previous round's (materialized) labels, which shortens
         pointer chains (path doubling against the last settled map; the
         stepped-self-join variant was measured as pure extra driver
         planning with the same round count on near-dup graphs).
    Plain hash-min needs O(diameter) rounds; with the short-cut step
    convergence stays O(log n)-ish even on path graphs, and near-dup
    graphs (clusters are near-cliques) settle in 2-3 rounds. Per round the lineage
    is truncated with ``localCheckpoint`` so the plan does not grow, and
    convergence is detected by a 64-bit hash checksum over the labels
    (type-agnostic: string/UUID ids hash the same way numeric ids do) -
    one cheap aggregate, no row-level diff join.

    Output has one row per node that appears in ``pairs``; isolated rows of
    the base table are absent (their component is their own id - see
    :func:`dedup_by_components`). Raises ``RuntimeError`` if the checksum
    has not settled after ``max_iterations`` rounds.
    """
    # Checkpoints here are LAZY (eager=False): each round's convergence
    # checksum ``collect`` is the action that materializes them, so the
    # eager form only added one extra job per round (2 jobs -> 1; ~35%
    # of this operator's wall-clock at local scale was job-submission
    # latency). Materialization stays strictly sequential — the checksum
    # collect caches round N's labels before round N+1's joins read them
    # twice — so the double-compute the checkpoint exists to prevent
    # cannot race back in.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    # initial label = min(self, neighborhood) - one aggregation (edges are
    # symmetric, so every node appears as dst), saving a full propagation
    # round vs identity initialization
    labels = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("__nmin"))
        .select(
            "node", F.least(F.col("node"), F.col("__nmin")).alias("component")
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum(F.xxhash64("component").cast("decimal(38,0)"))).collect()[0][0]
    for _round in range(max_iterations):
        # jump map = previous round's labels (already materialized by the
        # previous checksum collect, so the two reads below are cache scans)
        parent = labels.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        # 1. hash-min: pull the smallest neighbor label over every edge
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("component").alias("n_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("n_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # 2. pointer jumping: component = component's own component. The
        # jump map is the MATERIALIZED previous round's labels, not
        # ``stepped`` itself (r11): a stepped-self-join duplicates the
        # whole round subtree in the plan — Catalyst analyzes and plans it
        # twice per round, ~0.2-0.35 s/query of pure driver time at local
        # scale (A/B in OPTIMIZATION_r11.md) — while the old-labels map is
        # a cached-RDD scan. Jumping through the previous labels is one
        # propagation step weaker per round (labels(label) vs
        # stepped(label)), but labels stay monotone non-increasing and
        # bounded by the component min, the fixed point is unchanged, and
        # the convergence checksum still detects it exactly; near-dup
        # graphs (near-cliques) converge in the same 2 rounds either way
        # (measured at sf0.1, debug-logged below).
        labels = (
            stepped.join(parent, stepped["component"] == parent["p_node"], "left")
            .select(
                "node",
                F.coalesce(F.col("p_comp"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # type-agnostic convergence checksum: summing the raw label
        # column breaks for string/UUID ids (implicit cast -> NULL ->
        # sum None every round -> spurious convergence after ONE
        # iteration); a 64-bit hash sum is stable for any label type
        # and changes whenever any label changes (collisions across
        # iterations are ~2^-64).
        cur_sum = labels.agg(
            F.sum(F.xxhash64("component").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            _CC_LOG.debug(
                "connected_components: converged after %d rounds "
                "(%d driver actions incl. init)",
                _round + 1,
                _round + 2,
            )
            break
        prev_sum = cur_sum
    else:
        # labels that changed in the last round may still be above their
        # component minimum: returning them would silently split clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; raise max_iterations"
        )
    return labels


def connected_components_sql(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB oracle for :func:`connected_components`: recursive reachability
    (labels flow along symmetric edges), then min label per node. Embed in a
    ``WITH RECURSIVE`` query."""
    return f"""
    edges AS (
      SELECT {id_a} AS src, {id_b} AS dst FROM ({pairs_sql})
      UNION
      SELECT {id_b} AS src, {id_a} AS dst FROM ({pairs_sql})
    ),
    walk(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON w.node = e.src
    ),
    components AS (
      SELECT node, MIN(lbl) AS component FROM walk GROUP BY node
    )
    """


def dedup_by_components(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Annotate every row of ``df`` with its duplicate cluster and keep flag:
    ``component`` (cluster id = smallest member id; rows in no cluster are
    their own component) and ``is_dup`` (true for every member except the
    representative). A training-data pipeline filters ``~is_dup``.

    The components table holds only docs that hit a candidate pair, so AQE
    broadcasts it while duplicate mass is low — but the broadcast is NOT
    forced (r5): at web-corpus duplicate fractions (30-60%) the table is
    proportional to the corpus, and an explicit ``F.broadcast`` would
    override the size check and OOM exactly when dedup matters most. AQE's
    runtime stats pick broadcast vs shuffle per actual size.
    """
    comp = components.select(
        F.col("node"), F.col("component").alias("__component")
    )
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .select(
            df["*"],
            F.coalesce(F.col("__component"), df[id_col]).alias("component"),
        )
        .withColumn("is_dup", F.col(id_col) != F.col("component"))
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sign_bits: int = 8,
    threshold: float = 0.99,
    materialize_buckets: bool = True,
) -> DataFrame:
    """Near-identical embedding pairs: bucket on the sign pattern of the
    first ``sign_bits`` dimensions (a deterministic hyperplane LSH), then
    exact cosine within buckets. Vectors with cosine -> 1 share signs on
    every dimension, so recall at high thresholds is ~1 while the join stays
    an equi-join. Bucket tags are materialized once before the self-join
    (see ``minhash_lsh_pairs``)."""
    v = to_double_array(F.col(vec_col))
    bucket = F.concat_ws(
        "",
        *[
            F.when(F.element_at(v, i + 1) > 0, "1").otherwise("0")
            for i in range(sign_bits)
        ],
    )
    # norms ride the LINEAR bucket table (and its checkpoint): the pair
    # table is bucket² rows and the fold is interpreted per element, so
    # cosine-per-pair refolded each vector's norm once per bucket partner
    # (r7, same change as bitext_mine — identical doubles, identical
    # round, NULL on zero norms as before)
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        bucket.alias("__b"),
        l2_norm(v).alias("__n"),
    )
    if materialize_buckets:
        base = base.localCheckpoint()
    left = base.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "__b",
        F.col("__n").alias("__na"),
    )
    right = base.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "__b",
        F.col("__n").alias("__nb"),
    )
    __denom = F.col("__na") * F.col("__nb")
    cos = F.round(
        F.when(
            __denom > 0,
            dot_product(
                to_double_array(F.col("va")), to_double_array(F.col("vb"))
            )
            / __denom,
        ),
        6,
    )
    return (
        left.join(right, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster embeddings, dedup within clusters
# ---------------------------------------------------------------------------

def semantic_dedup_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
) -> DataFrame:
    """Embedding-space dedup blocked by k-means cells (the SemDeDup recipe:
    cluster the corpus, then compare only within a cluster): each row is
    assigned to its nearest centroid (max rounded cosine, ties -> lowest
    centroid id), and it survives iff no LOWER-id row in the same cell has
    rounded cosine >= ``threshold`` to it. The greedy lowest-id-wins rule
    is deterministic and one-pass - no iterative component propagation -
    which is what you want when the threshold is high and duplicate groups
    are small and dense. A zero-norm vector has no cosine (NULL, as in the
    DuckDB oracle): it never dominates and is never dominated, at any
    threshold. Returns the surviving rows with their ``cell`` attached.

    The centroids (trained with
    :func:`~vectordb_data_ingestion_spark.operators.similarity.kmeans_fit`)
    control the blocking granularity: the work is sum of cell_size^2,
    never corpus^2, scored as one numpy matmul per cell via
    ``applyInPandas`` (the shape SemDeDup runs per cluster on
    accelerators). The assignment is checkpointed once so the cell
    shuffle does not replay it.

    One shuffle keyed by cell; a pathological giant cell concentrates on
    one task - that is a property of the clustering (re-train with larger
    k), not of the plan.
    """
    import numpy as np

    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    assigned = assign_ivf_cells_vectorized(
        corpus,
        centroids,
        vec_col=vec_col,
        centroid_vec=centroid_vec,
        centroid_id=centroid_id,
        id_col=id_col,
    ).localCheckpoint()

    def dedupe(pdf):
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        # a zero-norm row's cosine is NULL, which never passes the
        # threshold: mask its row and column rather than scoring it 0
        has_norm = norms != 0.0
        norms[~has_norm] = 1.0
        sims = np.round((m / norms[:, None]) @ (m / norms[:, None]).T, 6)
        hit = (sims >= threshold) & has_norm[:, None] & has_norm[None, :]
        dup = np.tril(hit, k=-1).any(axis=1)
        return pdf.loc[~dup]

    return assigned.groupBy("cell").applyInPandas(dedupe, schema=assigned.schema)


# --- windowed duplicate-span detection --------------------------------------


def duplicate_window_stats(
    df: DataFrame,
    window_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics via rolling word windows —
    the distributed approximation of exact-substring dedup (suffix-array
    "dedup training data" pipelines): every ``window_words``-word window is
    hashed; a window whose hash occurs anywhere else in the corpus (another
    doc, or again in the same doc) marks a duplicated span.

    Returns ``(id_col, n_windows, n_dup_windows, dup_ratio)`` — the rows a
    span-removal or doc-drop policy consumes.

    Scale shape: windows are formed as pure array expressions (no Python),
    and the exploded table carries ONLY ``(doc_id, window_hash)`` — never
    window text. Two hash-keyed shuffles (count per hash; join the dup set
    back) plus one per-doc aggregate. The dup-hash set is usually a small
    fraction of windows, so AQE broadcasts the join-back side when it fits.
    """
    words = F.filter(word_split(F.col(text_col)), lambda w: w != "")
    n_win = F.greatest(F.size(words) - F.lit(window_words - 1), F.lit(0))

    # sequence(1, 0) counts DOWNWARD in Spark — docs shorter than the
    # window must yield an empty array, not slice(start=0). The word
    # array is BOUND as a lambda variable before the per-window slices:
    # referencing `words` inside the lambda body re-runs the split+filter
    # once per window start (O(words²) per doc; same fix as shingles).
    def _win_hash(w: Column) -> Column:
        nw = F.greatest(F.size(w) - F.lit(window_words - 1), F.lit(0))
        return F.when(
            nw >= 1,
            F.transform(
                F.sequence(F.lit(1), nw),
                lambda i: F.unhex(
                    F.substring(
                        F.md5(F.array_join(F.slice(w, i, window_words), " ")),
                        1,
                        16,
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<binary>"))

    win_hash = F.flatten(F.transform(F.array(words), _win_hash))
    wins = df.select(
        F.col(id_col), F.explode(win_hash).alias("__wh")
    )
    per_hash = wins.groupBy("__wh").agg(F.count("*").alias("__occ"))
    dup_hashes = per_hash.filter(F.col("__occ") > 1).select("__wh")
    dup_counts = (
        wins.join(dup_hashes, "__wh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_windows"))
    )
    totals = df.select(F.col(id_col), n_win.alias("n_windows"))
    return (
        totals.join(dup_counts, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.col("n_windows") > 0,
                    F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_ratio"),
        )
    )


def duplicate_window_stats_sql(
    table: str,
    window_words: int = 8,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB oracle mirroring :func:`duplicate_window_stats`."""
    toks = (
        f"list_filter(string_split(regexp_replace({text_expr}, '[ \\x09-\\x0D]+', ' ', 'g'),"
        f" ' '), w -> w <> '')"
    )
    w = window_words
    return f"""
    WITH d AS (
      SELECT {id_expr} AS id, {toks} AS words FROM {table}
    ),
    t AS (
      SELECT id, greatest(len(words) - {w - 1}, 0) AS n_windows, words FROM d
    ),
    wins AS (
      SELECT id,
             md5(array_to_string(words[i : i + {w - 1}], ' '))[1:16] AS wh
      FROM (SELECT id, words, unnest(range(1, greatest(len(words) - {w - 1}, 0) + 1)) AS i
            FROM t)
    ),
    dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) > 1),
    dc AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_dup FROM wins
      JOIN dup USING (wh) GROUP BY id
    )
    SELECT CAST(t.id AS BIGINT) AS {id_expr},
           CAST(t.n_windows AS INTEGER) AS n_windows,
           CAST(COALESCE(dc.n_dup, 0) AS BIGINT) AS n_dup_windows,
           ROUND(CASE WHEN t.n_windows > 0
                 THEN COALESCE(dc.n_dup, 0) / CAST(t.n_windows AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_ratio
    FROM t LEFT JOIN dc ON t.id = dc.id
    """


# --- windowed duplicate-span REMOVAL ----------------------------------------


def remove_duplicate_spans(
    df: DataFrame,
    window_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication with span removal (the distributed
    form of Lee et al. 2022's "Deduplicating Training Data" ExactSubstr
    pass, windowed instead of suffix-array): every ``window_words``-word
    window is keyed by its md5; per key the globally FIRST occurrence —
    minimal ``(doc_id, position)`` — is canonical and kept, every later
    occurrence marks its word span for removal. Overlapping marked spans
    union naturally (a word survives only if NO marked window covers it),
    so repeated boilerplate collapses to its first appearance corpus-wide.

    Returns ``(id_col, clean_text, n_words, n_removed)``.

    Scale shape: windows are pure array expressions; the exploded table
    carries only ``(doc_id, pos, window_md5)`` — never window text. One
    hash-keyed aggregate finds canonical occurrences, one join-back marks
    later ones, one per-doc aggregate collects removal starts (bounded by
    the doc's own window count), and the final cut is a narrow
    higher-order-function projection. No Python in the path. Deterministic
    for any partitioning: canonicity is a pure min over (doc_id, pos)."""
    k = window_words
    words = F.filter(word_split(F.col(text_col)), lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("__ws"))
    n_win = F.greatest(F.size("__ws") - F.lit(k - 1), F.lit(0))
    # 8-byte binary hash key (md5 prefix), same as duplicate_window_stats:
    # the exploded table rides two shuffles, so key width is the dominant
    # shuffle payload — 8 bytes vs a 32-char hex string is a 4x cut
    wins = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                n_win >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda i: F.unhex(
                        F.substring(
                            F.md5(F.array_join(F.slice("__ws", i, k), " ")),
                            1,
                            16,
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<binary>")),
        ).alias("__p0", "__wh"),
    ).select(
        id_col,
        (F.col("__p0") + 1).alias("__pos"),  # 1-based window start
        "__wh",
    )
    # total order on occurrences: doc first, then position. A STRUCT
    # comparison, not numeric packing (id*1e9+pos): packing silently
    # no-ops for string ids (cast -> NULL) and wraps negative for ids
    # >= ~9.2e9, both of which break the "globally FIRST occurrence is
    # canonical" guarantee; struct ordering is the same (doc, pos)
    # lexicographic order for any id type.
    code = F.struct(F.col(id_col), F.col("__pos"))
    occ = wins.withColumn("__code", code)
    canon = occ.groupBy("__wh").agg(F.min("__code").alias("__c"))
    marks = (
        occ.join(canon, "__wh")
        .filter(F.col("__code") > F.col("__c"))
        .select(id_col, "__pos")
    )
    starts = marks.groupBy(id_col).agg(
        F.collect_list("__pos").alias("__sts")
    )
    joined = base.join(starts, id_col, "left").withColumn(
        "__sts",
        F.coalesce(F.col("__sts"), F.array().cast("array<int>")),
    )
    kept = F.filter(
        F.col("__ws"),
        lambda w, i: ~F.exists(
            F.col("__sts"),
            lambda s: (s <= i + 1) & (i + 1 < s + k),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__ws").cast("bigint").alias("n_words"),
        (F.size("__ws") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def remove_duplicate_spans_sql(
    table: str,
    window_words: int = 8,
    text_expr: str = "text",
    id_expr: str = "doc_id",
) -> str:
    """DuckDB oracle mirroring :func:`remove_duplicate_spans`."""
    toks = (
        f"list_filter(string_split(regexp_replace({text_expr}, '[ \\x09-\\x0D]+', ' ', 'g'),"
        f" ' '), w -> w <> '')"
    )
    k = window_words
    return f"""
    WITH d AS (
      SELECT {id_expr} AS id, {toks} AS words FROM {table}
    ),
    wins AS (
      SELECT id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(words[CAST(i AS INTEGER) :
                                       CAST(i AS INTEGER) + {k - 1}], ' '))[1:16]
               AS wh
      FROM (SELECT id, words,
                   unnest(range(1, greatest(len(words) - {k - 1}, 0) + 1))
                     AS i
            FROM d)
    ),
    occ AS (SELECT id, pos, wh, id * 1000000000 + pos AS code FROM wins),
    canon AS (SELECT wh, MIN(code) AS c FROM occ GROUP BY wh),
    marks AS (
      SELECT o.id, o.pos FROM occ o JOIN canon USING (wh) WHERE o.code > canon.c
    ),
    starts AS (SELECT id, list(pos) AS sts FROM marks GROUP BY id),
    j AS (
      SELECT d.id, d.words, COALESCE(s.sts, []) AS sts
      FROM d LEFT JOIN starts s ON d.id = s.id
    ),
    kept AS (
      SELECT j.id, t.p, j.words[CAST(t.p AS INTEGER)] AS w
      FROM j, unnest(range(1, len(j.words) + 1)) AS t(p)
      WHERE len(list_filter(j.sts, s -> s <= t.p AND t.p < s + {k})) = 0
    ),
    cleaned AS (
      SELECT id, array_to_string(list(w ORDER BY p), ' ') AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY id
    )
    SELECT CAST(j.id AS BIGINT) AS {id_expr},
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(len(j.words) AS BIGINT) AS n_words,
           CAST(len(j.words) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM j LEFT JOIN cleaned c ON j.id = c.id
    """


def choose_lsh_banding(
    threshold: float,
    max_hashes: int = 256,
    min_recall_at_threshold: float = 0.9,
    max_fp_at: float = 0.5,
    max_fp_rate: float = 0.25,
) -> dict:
    """Pick ``(num_hashes, bands, rows_per_band)`` for a target jaccard
    ``threshold`` from the banding s-curve (Leskovec/Rajaraman/Ullman,
    MMDS ch.3 — public literature): a pair with similarity ``s`` becomes
    a candidate with probability ``1 - (1 - s^r)^b``. The knobs trade
    recall at the threshold against false-candidate mass below it — the
    LSH analogue of ``vector_index.calibrate_n_probe``'s declarative
    target (and a principled replacement for hand-picking bands=4).

    Scans (b, r) grids with ``b*r <= max_hashes`` (smallest signature
    first — signature width is the per-doc index cost at 100 TB) and
    returns the cheapest configuration whose curve has

    - candidate probability >= ``min_recall_at_threshold`` at ``s =
      threshold`` (pairs the verifier SHOULD see reach it), and
    - candidate probability <= ``max_fp_rate`` at ``s = threshold *
      max_fp_at`` (clearly-dissimilar pairs mostly don't reach the
      exact-jaccard verifier — candidate mass, not correctness: the
      verify step drops them either way).

    Returns ``{"num_hashes", "bands", "rows_per_band", "p_at_threshold",
    "p_at_fp", "curve"}``; raises if no grid point satisfies both within
    ``max_hashes`` (loosen a bound or raise the budget — stated loudly,
    the banding-validator precedent). Feasibility is bound-sensitive at
    low thresholds: 0.9-recall@0.5 costs 54 hashes at fp<=0.25 but over
    128 at fp<=0.2 — the s-curve is only as steep as the signature is
    wide, which is why the budget is a parameter and the failure is an
    error, not a silent nearest-fit."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")

    def p_candidate(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    best = None
    for total in range(2, max_hashes + 1):
        for r in range(1, total + 1):
            if total % r:
                continue
            b = total // r
            p_hit = p_candidate(threshold, b, r)
            p_fp = p_candidate(threshold * max_fp_at, b, r)
            if p_hit >= min_recall_at_threshold and p_fp <= max_fp_rate:
                best = (total, b, r, p_hit, p_fp)
                break
        if best:
            break
    if not best:
        raise ValueError(
            f"no (bands, rows) within num_hashes<={max_hashes} reaches "
            f"recall>={min_recall_at_threshold} at s={threshold} with "
            f"false-candidate rate<={max_fp_rate} at s={threshold * max_fp_at}"
            " — loosen a bound or raise max_hashes"
        )
    total, b, r, p_hit, p_fp = best
    curve = {
        round(s, 2): round(p_candidate(s, b, r), 4)
        for s in (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    }
    return {
        "num_hashes": total,
        "bands": b,
        "rows_per_band": r,
        "p_at_threshold": round(p_hit, 4),
        "p_at_fp": round(p_fp, 4),
        "curve": curve,
    }
