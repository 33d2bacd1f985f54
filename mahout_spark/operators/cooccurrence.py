"""Item-similarity by LLR cooccurrence — the SimilarityAnalysis pipeline.

Reference flow (math-scala/.../cf/SimilarityAnalysis.scala:61-122):
downsample+binarize -> A'A -> LLR reweight -> per-item top-K. In long-form
triple encoding, A'A **is** the natural self-join + groupBy plan — the
reference's Gramian-detection rewrite (DistributedEngine.scala:160-161) has
nothing to detect here; Catalyst plans the single shuffle directly.

Scale design (10^12 interactions):
- binarize + downsample FIRST (cap per row & column, default 500 as the
  reference, SimilarityAnalysis.scala:64-65) — this bounds the self-join
  fan-out to maxPrefs^2 per row and is THE throughput lever;
- deterministic hash coins for sampling (retry-safe, no rand()), mirroring
  the reference's seeded MurmurHash (SimilarityAnalysis.scala:403-405);
- the pair self-join shuffles on row_id once; the pair count groupBy
  shuffles on (item_a, item_b); both get AQE-coalesced;
- per-item interaction counts are a small aggregate joined broadcast-style.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mahout_spark.functions.hashutil import deterministic_coin
from mahout_spark.functions.measures import llr_cooc_expr
from mahout_spark.operators.rowsim import symmetric_pair_topk
from mahout_spark.operators.topk import topk_per_group


def sample_down_and_binarize(triples: DataFrame, seed: int = 0xDEADBEEF,
                             max_per_row: int = 500,
                             max_per_col: int = 500,
                             row: str = "row_id", col: str = "col_id") -> DataFrame:
    """Binarize interactions and cap interactions per row AND per column.

    Acceptance probability = min(row_rate, col_rate) as in the reference
    (SimilarityAnalysis.scala:389-437), but with a deterministic
    hash(row, col, seed) coin instead of a seeded per-partition RNG so task
    retries and both cluster sizes reproduce identical samples.
    """
    from pyspark.sql import Window

    # One distinct pass, pinned: the counts and the join probe all read
    # the same cached table (the un-pinned version re-derived the whole
    # scan+distinct subtree once per consumer — measured as 3 full input
    # scans on the llr bench). Column counts stay a groupBy+join so a hot
    # column is AQE-skew-splittable; row counts ride a window partitioned
    # by the row key, which (a) costs one exchange instead of an
    # aggregate + join pair and (b) leaves the output hash-partitioned by
    # the row key — exactly the distribution the downstream A'A self-join
    # needs, so that join re-uses the exchange. A row hot enough to
    # stress the count window would already be fatal to that self-join
    # (fan-out is quadratic in row frequency), so the window adds no new
    # skew exposure.
    binarized = triples.select(row, col).distinct().persist()
    col_counts = binarized.groupBy(col).agg(F.count("*").alias("__cc"))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(max_per_row)) / F.col("__rc"),
        F.lit(float(max_per_col)) / F.col("__cc"),
    )
    return (binarized
            .join(col_counts, col)
            .withColumn("__rc", F.count("*").over(Window.partitionBy(row)))
            .filter(deterministic_coin([F.col(row), F.col(col)], seed, rate))
            .select(row, col))


def _row_key(df: DataFrame, row: str, exact: bool = False) -> Column:
    """The self-join key of a pair join on ``row``.

    String-keyed rows (urls) are pre-hashed: the row id never reaches the
    output, and a fixed-width join key cuts sort/probe cost ~1.5x at web
    scale (measured with the single-long variant). The key is a struct of
    TWO independent xxhash64 draws — effectively 128 bits — so the
    any-collision probability among n rows is ~n^2/2^129: ~3e-12 even at
    n = 10^12 rows, vs ~3% at 10^9 rows for a single 64-bit key.
    ``exact=True`` keeps the exact string join; integer keys are always
    exact.
    """
    if exact or df.schema[row].dataType.simpleString() not in ("string",
                                                               "binary"):
        return F.col(row)
    return F.struct(F.xxhash64(F.col(row)).alias("h1"),
                    F.xxhash64(F.col(row), F.lit(1)).alias("h2"))


def cooccurrence_counts(interactions: DataFrame, row: str = "row_id",
                        col: str = "col_id",
                        include_self: bool = False,
                        exact_row_join: bool = False) -> DataFrame:
    """A'A in long form: (item_a, item_b, n_ab) for items sharing a row.

    One ordered pair per direction (a != b unless include_self) so per-item
    top-K sees every neighbor. Input must be binarized/distinct.

    String row ids are joined on the 128-bit ``_row_key`` hash; pass
    ``exact_row_join=True`` to keep the exact string join (the
    oracle-checked gate paths use integer keys, which are always exact; a
    pytest asserts hash-path == exact-path parity on string keys).
    """
    rkey = _row_key(interactions, row, exact_row_join)
    a = interactions.select(rkey.alias("__r"), F.col(col).alias("item_a"))
    b = interactions.select(rkey.alias("__r"), F.col(col).alias("item_b"))
    pairs = a.join(b, "__r")
    if not include_self:
        pairs = pairs.filter(F.col("item_a") != F.col("item_b"))
    return pairs.groupBy("item_a", "item_b").agg(
        F.count("*").alias("n_ab"))


def llr_item_similarity(triples: DataFrame, row: str = "row_id",
                        col: str = "col_id", k: int = 50,
                        min_llr: float | None = None,
                        seed: int = 0xDEADBEEF,
                        max_interactions: int = 500,
                        downsample: bool = True) -> DataFrame:
    """The full cooccurrences() pipeline -> (item_a, item_b, llr) top-K per

    item_a. numUsers = distinct row count; n_x = per-item distinct-row
    counts; LLR threshold takes precedence over top-K when given
    (SimilarityAnalysis.scala:312-376).
    """
    inter = (sample_down_and_binarize(triples, seed, max_interactions,
                                      max_interactions, row, col)
             if downsample else triples.select(row, col).distinct())
    inter = inter.persist()
    n_users = F.lit(inter.select(row).distinct().count())
    # pinned: consumed twice (n_a / n_b joins) — the two differently-
    # aliased branches otherwise defeat exchange reuse and re-run the
    # whole aggregation per branch (same pattern as rowsim's norms;
    # measured as two identical map stages on the llr bench)
    item_counts = inter.groupBy(F.col(col).alias("ent")).agg(
        F.count("*").alias("norm")).persist()
    cells = inter.select(_row_key(inter, row).alias("key"),
                         F.col(col).alias("ent"), F.lit(1).alias("v"))
    return symmetric_pair_topk(
        cells, item_counts, F.count("*"),
        lambda n_ab, n_a, n_b: llr_cooc_expr(n_a, n_b, n_ab, n_users),
        k, min_llr).select(F.col("a").alias("item_a"),
                           F.col("b").alias("item_b"),
                           F.col("dots").alias("n_ab"),
                           F.col("score").alias("llr"))


def llr_cross_similarity(triples_a: DataFrame, triples_b: DataFrame,
                         row: str = "row_id", col: str = "col_id",
                         k: int = 50, min_llr: float | None = None,
                         seed: int = 0xDEADBEEF,
                         max_interactions: int = 500) -> DataFrame:
    """A'B cross-cooccurrence (e.g. purchase vs view): for each item_a of A,

    top-K items of B by LLR. numUsers is the distinct row count over the
    UNION of A's and B's rows: the reference uses drmA.nrow for both
    (SimilarityAnalysis.scala:80-112) because its inputs share one row
    space, but when B carries rows absent from A (possible via
    --filter2 on separately filtered text input) drmA.nrow makes
    k22 = N - n_a - n_b + n_ab negative and the xlogx clamp silently
    yields a wrong LLR. Union-N guarantees k22 >= 0 and equals the
    reference exactly whenever rows(B) ⊆ rows(A).
    """
    a = sample_down_and_binarize(triples_a, seed, max_interactions,
                                 max_interactions, row, col).persist()
    b = sample_down_and_binarize(triples_b, seed, max_interactions,
                                 max_interactions, row, col).persist()
    n_users = (a.select(row).union(b.select(row)).distinct().count())
    counts_a = a.groupBy(col).agg(F.count("*").alias("n_a"))
    counts_b = b.groupBy(col).agg(F.count("*").alias("n_b"))
    rkey = _row_key(a, row)
    pairs = (a.select(rkey.alias("__r"), F.col(col).alias("item_a"))
             .join(b.select(rkey.alias("__r"),
                            F.col(col).alias("item_b")), "__r")
             .groupBy("item_a", "item_b").agg(F.count("*").alias("n_ab")))
    scored = (pairs
              .join(counts_a.select(F.col(col).alias("item_a"), "n_a"), "item_a")
              .join(counts_b.select(F.col(col).alias("item_b"), "n_b"), "item_b")
              .withColumn("llr", llr_cooc_expr(
                  F.col("n_a"), F.col("n_b"), F.col("n_ab"), F.lit(n_users))))
    if min_llr is not None:
        scored = scored.filter(F.col("llr") >= min_llr)
    return topk_per_group(scored, ["item_a"], "llr", k,
                          tiebreak_cols=["item_b"]).select(
        "item_a", "item_b", "n_ab", "llr")
