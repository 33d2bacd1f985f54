"""Row-similarity with pluggable measures — the RowSimilarityJob mirror.

The reference runs 4 MR phases (mr/.../cooccurrence/RowSimilarityJob.java:
160-217): count observations per column; downsample+normalize+transpose;
pairwise partial dot products per column; similarity + top-K merge. In
DataFrame form those collapse to: row-level preprocessing (normalize /
center / binarize) -> join-on-column pair dots -> measure expression ->
Window top-K. The per-column pair generation mirrors CooccurrencesMapper
(RowSimilarityJob.java:430-455); the final expr mirrors SimilarityReducer's
``similarity(dots, normA, normB, ncols)`` (:458-502).

Scale: the column join fan-out is quadratic in column frequency — cap heavy
columns first (downsample, as the reference's ObservationsPerColumn phase);
the pair-dots groupBy((a, b)) is the one big shuffle, AQE-skew-handled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mahout_spark.functions.measures import MEASURES, Measure
from mahout_spark.operators.topk import topk_per_group


def _preprocess(triples: DataFrame, measure: Measure, row: str, col: str,
                val: str) -> DataFrame:
    df = triples.select(F.col(row).alias("row_id"), F.col(col).alias("col_id"),
                        F.col(val).cast("double").alias("value"))
    if measure.binarize:
        # matrix semantics: one cell per (row, col) — dedupe repeated
        # observations (a DRM has no duplicate cells)
        df = (df.filter(F.col("value") != 0)
              .select("row_id", "col_id").distinct()
              .withColumn("value", F.lit(1.0)))
    if measure.name == "pearson":
        # scaled centering: w = n*x - S = n*(x - mean). Scaling a row by
        # a constant doesn't change its cosine, so Pearson == cosine over
        # w — and w stays EXACT (integer arithmetic) for integer-valued
        # inputs, which makes the measure bit-replayable in the DuckDB
        # oracle (plain `x - mean` floats drift between engines in the
        # last ulp and broke hash verification; see rowsim_pearson gate)
        w = Window.partitionBy("row_id")
        df = df.withColumn(
            "value",
            F.count("*").over(w) * F.col("value") - F.sum("value").over(w))
        df = df.filter(F.col("value") != 0)
    if measure.l2_normalize:
        w = Window.partitionBy("row_id")
        norm = F.sqrt(F.sum(F.col("value") * F.col("value")).over(w))
        df = df.withColumn("value", F.col("value") / norm)
    return df


def symmetric_pair_topk(cells: DataFrame, norms: DataFrame, dots: Column,
                        score, k: int, threshold: float | None = None,
                        extra: DataFrame | None = None) -> DataFrame:
    """The one A'A plan under ``row_similarity`` and ``llr_item_similarity``:
    (a, b, dots, score), the top-``k`` b per a by score (ties: smaller b).

    ``cells`` is (key, ent, v); two ents pair when they share a key.
    ``dots`` aggregates each pair's ``va``/``vb`` columns; ``norms`` is
    (ent, norm), joined once per side; ``score(dots, norm_a, norm_b)``
    must be symmetric in (a, b), so each unordered pair (a < b) is
    aggregated and scored ONCE — half the fan-out of the one big shuffle —
    and mirrored afterwards. ``extra`` rows (same columns, e.g. a
    diagonal) join the candidates before the top-K.
    """
    pairs = (cells.select("key", F.col("ent").alias("a"), F.col("v").alias("va"))
             .join(cells.select("key", F.col("ent").alias("b"),
                                F.col("v").alias("vb")), "key")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(dots.alias("dots")))
    scored = (pairs
              .join(norms.select(F.col("ent").alias("a"),
                                 F.col("norm").alias("norm_a")), "a")
              .join(norms.select(F.col("ent").alias("b"),
                                 F.col("norm").alias("norm_b")), "b")
              .withColumn("score", score(F.col("dots"), F.col("norm_a"),
                                         F.col("norm_b"))))
    if threshold is not None:
        scored = scored.filter(F.col("score") >= threshold)
    # mirror with ONE explode, not a self-union: a union re-executes the
    # whole upstream (pair join + dots agg) once per branch — measured 17%
    # slower at sf0.1 than generating both directions up front; the
    # explode emits both directions from a single computation of each pair
    mirrored = scored.select(F.explode(F.array(
        F.struct("a", "b", "dots", "score"),
        F.struct(F.col("b").alias("a"), F.col("a").alias("b"), "dots",
                 "score"))).alias("__p")).select("__p.*")
    if extra is not None:
        mirrored = mirrored.unionByName(extra)
    return topk_per_group(mirrored, ["a"], "score", k, tiebreak_cols=["b"])


def row_similarity(triples: DataFrame, measure: str = "cosine",
                   row: str = "row_id", col: str = "col_id",
                   val: str = "value", k: int = 100,
                   threshold: float | None = None,
                   exclude_self: bool = True,
                   n_cols: int | None = None) -> DataFrame:
    """(row_a, row_b, sim) — top-K most similar rows per row under the

    chosen measure. Measures: cosine, pearson, euclidean, tanimoto,
    cityblock, loglikelihood, cooccurrence (reference's 7 plug-ins).
    """
    m = MEASURES[measure]
    df = _preprocess(triples, m, row, col, val)
    if n_cols is None and measure == "loglikelihood":
        # only the LLR contingency needs the column count — don't pay a
        # distinct-count action for the other measures
        n_cols = df.select("col_id").distinct().count()
    n_cols = F.lit(float(n_cols or 0))
    df = df.persist()

    # row norms: L0 (nnz) for count-based measures, sum(v^2) otherwise —
    # computed on the PREPROCESSED values, as the reference normalizes first
    norm_col = (F.count("*").cast("double") if m.norm_is_count
                else F.sum(F.col("value") * F.col("value")))
    # pinned: consumed twice (norm_a / norm_b joins) and — exclude_self
    # aside — the two differently-aliased branches were measured to defeat
    # exchange reuse, re-running the whole norm aggregation per branch
    norms = df.groupBy(F.col("row_id").alias("ent")).agg(
        norm_col.alias("norm")).persist()

    def score(dots, norm_a, norm_b):
        return m.similarity_expr(dots, norm_a, norm_b, n_cols)

    diag = None
    if not exclude_self:
        # dot(i,i) == norm_i under every preprocessing here (nnz for
        # count-based measures, sum v^2 otherwise)
        diag = norms.select(F.col("ent").alias("a"), F.col("ent").alias("b"),
                            F.col("norm").alias("dots"),
                            score(F.col("norm"), F.col("norm"),
                                  F.col("norm")).alias("score"))
        if threshold is not None:
            diag = diag.filter(F.col("score") >= threshold)
    cells = df.select(F.col("col_id").alias("key"),
                      F.col("row_id").alias("ent"), F.col("value").alias("v"))
    return symmetric_pair_topk(
        cells, norms, F.sum(F.col("va") * F.col("vb")), score, k, threshold,
        extra=diag).select(F.col("a").alias("row_a"),
                           F.col("b").alias("row_b"),
                           F.col("score").alias("sim"))
