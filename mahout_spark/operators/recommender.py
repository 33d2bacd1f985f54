"""User-based recommender with CMS-approximated similarity — the fork's

flagship path (SURVEY.md §3.3), as three DataFrame stages:

1. per-user CMS profiles: ``sketch_per_group`` over (user, item, pref)
   (mirrors CosineCM.exportProfile, CosineCM.java:41-58 — replaying the
   user's (item, pref) pairs through cm.update), one batched Python pass
   per Arrow batch;
2. pairwise user similarity: CMS cosine over sketch pairs (CosineCM.java:
   84-96 → DoubleCountMinSketch.cosine) or the exact Taste measures
   (AbstractSimilarity.java:110-223) as a join+agg oracle;
3. recommendation: neighborhood top-N, candidate generation by join,
   preference estimate = similarity-weighted average of neighbor prefs
   (GenericUserBasedRecommender.doEstimatePreference:134-184); in CMS mode
   the neighbor pref is the CMS point query cm.get(item) with 0 treated
   as missing (:156-158), run for each rated (user, item) BEFORE the
   neighborhood fan-out, one Python row (and one blob) per rated user;
   estimates capped to the preference range and required to have >=
   min_evidence data points (:176-178). An estimate
   whose similarities sum to 0 is skipped (the reference's NaN, which
   TopItems and the evaluators skip).

Evaluators mirror mr/.../impl/eval: deterministic-hash k-fold split
(AbstractKFoldRecommenderEvaluator.java:41-74), MAE and RMSE
(AverageAbsoluteDifference/RMSRecommenderEvaluator).

Scale: user-pair similarity is quadratic — production keeps the
item-join + groupBy(pair) plan (sparse: only users sharing items pair up)
plus the downsampling cap; profiles/sketches shuffle once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mahout_spark.operators.rescorer import (IDRescorer, apply_rescorer,
                                             filter_candidates)
from mahout_spark.operators.topk import global_topk, topk_per_group
from mahout_spark.sketch.agg import cms_spec_shape, sketch_per_group
from mahout_spark.sketch.queries import cms_pairwise


def user_cms_profiles(prefs: DataFrame, depth: int = 5, width: int = 272,
                      seed: int = 1, user: str = "user_id",
                      item: str = "item_id", pref: str = "pref",
                      parity: bool = False) -> DataFrame:
    """(user_id, sketch) — one CMS per user, updated with (item, pref).

    Equal (depth, width, seed) across users so cosine is defined
    (CosineCM builds cm1 with cm2's config, CosineCM.java:69-82).
    ``parity=True`` uses the reference's affine hash family so the whole
    recommend pipeline is DuckDB-replayable (gate oracle). Built by
    ``sketch_per_group``, the many-small-groups builder: one Python pass
    per Arrow batch over the user-clustered (user, item, pref) rows, no
    partial blobs and no merge stage.
    """
    spec = cms_spec_shape(depth, width, seed, parity=parity)
    return (sketch_per_group(prefs, [user], spec, key_col=item,
                             value_col=pref)
            .withColumnRenamed(user, "user_id"))


def cms_user_similarity(profiles: DataFrame, user_col: str = "user_id",
                        top_n: int | None = None) -> DataFrame:
    """(user_a, user_b, sim) — CMS-cosine user similarity.

    ``top_n=None`` computes ALL pairs via the crossJoin kernel — O(U^2)
    pair fan-out with per-pair deserialization, correct only for COARSE
    groupings (langs, cohorts; its documented contract). For per-USER
    profiles pass ``top_n``: similarity routes through the blocked
    BLAS tile kernel (cms_topk_cosine) that packs profiles into block
    matrices, keeps top-N per user inside each tile pair, and never
    funnels through the driver — neighborhoods are top-N anyway, so the
    top-N kernel is semantically what every caller consumes. float64
    tiles keep scores ulp-equal to DoubleCountMinSketch.cosine.
    """
    if top_n is not None:
        import numpy as np

        from mahout_spark.sketch.queries import cms_topk_cosine

        nn = cms_topk_cosine(profiles, user_col, k=top_n,
                             exclude_self=True, dtype=np.float64)
        return nn.select(F.col("item").alias("user_a"),
                         F.col("neighbor").alias("user_b"),
                         F.col("cms_cosine").alias("sim"))
    pairs = cms_pairwise(profiles, user_col, kind="cosine", out_col="sim")
    sym = pairs.unionByName(pairs.select(F.col("b").alias("a"),
                                         F.col("a").alias("b"), "sim"))
    return sym.select(F.col("a").alias("user_a"), F.col("b").alias("user_b"),
                      "sim")


def exact_user_similarity(prefs: DataFrame, measure: str = "cosine",
                          user: str = "user_id", item: str = "item_id",
                          pref: str = "pref") -> DataFrame:
    """(user_a, user_b, sim, n) exact pairwise similarity over shared

    items — the Taste AbstractSimilarity merge-join as a DataFrame plan;
    serves as the oracle for the CMS approximation (reference keeps both
    for the same reason). Measures (reference file / computeResult):

    - 'cosine' — UncenteredCosineSimilarity.java:56-67: sxy/(√sxx·√syy);
    - 'pearson' — PearsonCorrelationSimilarity.java:78-91 with the
      AbstractSimilarity centering (AbstractSimilarity.java:203-212):
      centered sums over co-rated items only;
    - 'euclidean' — EuclideanDistanceSimilarity.java:63-65:
      1/(1 + √Σ(x−y)²/√n);
    - 'tanimoto' — TanimotoCoefficientSimilarity.java:61-86:
      |X∩Y| / |X∪Y| over item SETS (values ignored);
    - 'loglikelihood' — LogLikelihoodSimilarity.java:52-72:
      1 − 1/(1 + LLR(n, |Y|−n, |X|−n, numItems−|X|−|Y|+n));
    - 'spearman' — SpearmanCorrelationSimilarity.java:48-121: ranks over
      the pair's common items (per side, by value; ties broken by item id
      for determinism — the reference's tie order is array order),
      1 − 6Σd²/(n(n²−1)), NaN when n ≤ 1.

    Pairs sharing no item never appear (the reference returns NaN there).
    """
    a = prefs.select(F.col(item).alias("__i"), F.col(user).alias("user_a"),
                     F.col(pref).cast("double").alias("__pa"))
    b = prefs.select(F.col(item).alias("__i"), F.col(user).alias("user_b"),
                     F.col(pref).cast("double").alias("__pb"))
    joined = a.join(b, "__i").filter(F.col("user_a") != F.col("user_b"))

    if measure == "spearman":
        wa = Window.partitionBy("user_a", "user_b").orderBy("__pa", "__i")
        wb = Window.partitionBy("user_a", "user_b").orderBy("__pb", "__i")
        ranked = (joined
                  .withColumn("__ra", F.row_number().over(wa).cast("double"))
                  .withColumn("__rb", F.row_number().over(wb).cast("double")))
        agg = ranked.groupBy("user_a", "user_b").agg(
            F.sum(F.pow(F.col("__ra") - F.col("__rb"), 2)).alias("d2"),
            F.count("*").alias("n"))
        n = F.col("n").cast("double")
        sim = F.when(F.col("n") <= 1, float("nan")).otherwise(
            1.0 - 6.0 * F.col("d2") / (n * (n * n - 1.0)))
        return agg.select("user_a", "user_b", sim.alias("sim"), "n")

    agg = joined.groupBy("user_a", "user_b").agg(
        F.sum(F.col("__pa") * F.col("__pb")).alias("sxy"),
        F.sum(F.col("__pa") * F.col("__pa")).alias("sxx"),
        F.sum(F.col("__pb") * F.col("__pb")).alias("syy"),
        F.sum("__pa").alias("sx"), F.sum("__pb").alias("sy"),
        F.sum(F.pow(F.col("__pa") - F.col("__pb"), 2)).alias("d2"),
        F.count("*").alias("n"))

    if measure == "cosine":
        den = F.sqrt(F.col("sxx")) * F.sqrt(F.col("syy"))
        sim = F.when(den == 0.0, float("nan")).otherwise(F.col("sxy") / den)
    elif measure == "pearson":
        n = F.col("n").cast("double")
        mean_x, mean_y = F.col("sx") / n, F.col("sy") / n
        cxy = F.col("sxy") - mean_y * F.col("sx")
        cx2 = F.col("sxx") - mean_x * F.col("sx")
        cy2 = F.col("syy") - mean_y * F.col("sy")
        den = F.sqrt(cx2) * F.sqrt(cy2)
        sim = F.when(den == 0.0, float("nan")).otherwise(cxy / den)
    elif measure == "euclidean":
        n = F.col("n").cast("double")
        sim = 1.0 / (1.0 + F.sqrt(F.col("d2")) / F.sqrt(n))
    elif measure in ("tanimoto", "loglikelihood"):
        # pinned: consumed by two aliased joins (user_a / user_b)
        sizes = prefs.groupBy(user).agg(
            F.count("*").alias("__sz")).persist()
        agg = (agg.join(sizes.select(F.col(user).alias("user_a"),
                                     F.col("__sz").alias("__nx")), "user_a")
               .join(sizes.select(F.col(user).alias("user_b"),
                                  F.col("__sz").alias("__ny")), "user_b"))
        if measure == "tanimoto":
            sim = (F.col("n").cast("double")
                   / (F.col("__nx") + F.col("__ny") - F.col("n")))
        else:
            from mahout_spark.functions.measures import llr_expr

            n_items = prefs.select(item).distinct().count()
            llr = llr_expr(
                F.col("n").cast("double"),
                (F.col("__ny") - F.col("n")).cast("double"),
                (F.col("__nx") - F.col("n")).cast("double"),
                (F.lit(n_items) - F.col("__nx") - F.col("__ny")
                 + F.col("n")).cast("double"))
            sim = 1.0 - 1.0 / (1.0 + llr)
    else:
        raise ValueError(measure)
    return agg.select("user_a", "user_b", sim.alias("sim"), "n")


def nearest_n_neighborhood(sims: DataFrame, n: int,
                           min_sim: float | None = None) -> DataFrame:
    """Top-N similar users per user (NearestNUserNeighborhood)."""
    s = sims if min_sim is None else sims.filter(F.col("sim") >= min_sim)
    return topk_per_group(s, ["user_a"], "sim", n, tiebreak_cols=["user_b"])


def threshold_neighborhood(sims: DataFrame, threshold: float) -> DataFrame:
    """ThresholdUserNeighborhood."""
    return sims.filter(F.col("sim") >= threshold)


def _weighted_estimate(cand: DataFrame, keys: list[str], sim: str, val: str,
                       min_evidence: int,
                       boolean_pref: bool = False) -> DataFrame:
    """keys + score — the similarity-weighted average per group,

    sum(sim·val) / sum(sim), kept where >= ``min_evidence`` rows back it.
    The denominator is sum(sim), NOT sum(|sim|): the reference divides
    totalSimilarity through unmodified (GenericUserBasedRecommender.java:
    164-178, GenericItemBasedRecommender.java:241-254), so estimates with
    negative-similarity neighborhoods (Pearson) match bit-for-bit. A zero
    sum gives the reference NaN, which TopItems and the evaluators skip;
    here ``try_divide`` makes it NULL (no ANSI DIVIDE_BY_ZERO) and the row
    is dropped. ``boolean_pref`` scores the plain sum(sim) instead.
    """
    s = F.col(sim)
    score = (F.sum(s) if boolean_pref
             else F.try_divide(F.sum(s * F.col(val)), F.sum(s)))
    return (cand.groupBy(*keys)
            .agg(score.alias("score"), F.count("*").alias("__n"))
            .filter((F.col("__n") >= min_evidence)
                    & F.col("score").isNotNull())
            .drop("__n"))


def _rank(cand: DataFrame, prefs: DataFrame, user: str, item: str,
          cand_item: str, sim: str, val: str, top_n: int,
          min_evidence: int, cap_range: tuple[float, float] | None,
          rescorer: IDRescorer | None, boolean_pref: bool = False,
          exclude_seen: bool = True) -> DataFrame:
    """(user_id, item_id, score) — the user recommenders' shared tail over

    ``cand`` (__u, ``cand_item``, ``sim``, ``val``): drop items the user
    has seen, drop rescorer-filtered items, similarity-weighted estimate,
    cap to ``cap_range``, rescore, top-``top_n`` per user (tiebreak
    item)."""
    if exclude_seen:
        seen = prefs.select(F.col(user).alias("__u"),
                            F.col(item).alias(cand_item)).distinct()
        cand = cand.join(seen, ["__u", cand_item], "left_anti")
    cand = filter_candidates(cand, cand_item, rescorer)
    est = _weighted_estimate(cand, ["__u", cand_item], sim, val,
                             min_evidence, boolean_pref=boolean_pref)
    if cap_range is not None:
        lo, hi = cap_range
        est = est.withColumn("score", F.least(F.lit(float(hi)), F.greatest(
            F.lit(float(lo)), F.col("score"))))
    scored = apply_rescorer(
        est.select(F.col("__u").alias("user_id"),
                   F.col(cand_item).alias("item_id"), "score"),
        "item_id", "score", rescorer)
    return topk_per_group(scored, ["user_id"], "score", top_n,
                          tiebreak_cols=["item_id"])


def recommend(prefs: DataFrame, neighborhood: DataFrame, top_n: int = 10,
              min_evidence: int = 2, user: str = "user_id",
              item: str = "item_id", pref: str = "pref",
              cap_range: tuple[float, float] | None = None,
              boolean_pref: bool = False,
              rescorer: IDRescorer | None = None) -> DataFrame:
    """(user_id, item_id, score) — top-N unseen items per user, scored by

    similarity-weighted average of neighbor preferences
    (doEstimatePreference, GenericUserBasedRecommender.java:134-184).

    ``rescorer`` is the IDRescorer hook (recommend(howMany, rescorer),
    GenericUserBasedRecommender.java:116-129): filtered item ids are cut
    from the candidate frame before estimation, estimates are rescored
    before ranking, NaN rescored values dropped (TopItems.java:62-73).

    ``boolean_pref=True`` is GenericBooleanPrefUserBasedRecommender
    (.java:45-61): the estimate is the plain SUM of similarities of
    neighbors who have the item — no preference weighting, no
    normalization; any single neighbor having it counts as evidence
    (min_evidence forced to 1, matching foundAPref).
    """
    if boolean_pref:
        min_evidence = 1
    nb = neighborhood.select(F.col("user_a").alias("__u"),
                             F.col("user_b").alias("__nb"), "sim")
    np_ = prefs.select(F.col(user).alias("__nb"), F.col(item).alias("__it"),
                       F.col(pref).cast("double").alias("__p"))
    return _rank(nb.join(np_, "__nb"), prefs, user, item, "__it", "sim",
                 "__p", top_n, min_evidence, cap_range, rescorer,
                 boolean_pref=boolean_pref)


def recommend_cms(prefs: DataFrame, profiles: DataFrame,
                  neighborhood: DataFrame, top_n: int = 10,
                  min_evidence: int = 2, user: str = "user_id",
                  item: str = "item_id",
                  cap_range: tuple[float, float] | None = None,
                  rescorer: IDRescorer | None = None) -> DataFrame:
    """The fork's CMS branch of doEstimatePreference

    (GenericUserBasedRecommender.java:139-159): candidate items come from
    neighbors' interaction lists, but the neighbor's preference VALUE is
    the CMS point query ``cm.get(itemID)`` against the neighbor's sketch
    (0 ⇒ treated as missing, :156-158). The estimate depends on (neighbor,
    item) only, never on the target, so the CMS lookup runs once per rated
    (user, item) BEFORE the neighborhood fan-out — one Python row per
    rated user, carrying its items and its sketch once; the
    fan-out, the seen/rescorer filters and the similarity-weighted
    average are plain SQL. Items whose similarities sum to 0 are skipped.
    """
    from mahout_spark.sketch.queries import cms_point_lookup

    rated = prefs.select(F.col(user), F.col(item).alias("__it")).distinct()
    est = cms_point_lookup(profiles, rated, F.col("__it").cast("long"),
                           join_cols=[user], out_col="__pref")
    est = est.filter(F.col("__pref") > 0)  # 0 ⇒ missing, reference :158
    nb = neighborhood.select(F.col("user_a").alias("__u"),
                             F.col("user_b").alias(user), "sim")
    cand = nb.join(est, user)  # (target __u, neighbor user, item, sim, pref)
    return _rank(cand, prefs, user, item, "__it", "sim", "__pref", top_n,
                 min_evidence, cap_range, rescorer)


def recommend_item_based(prefs: DataFrame, item_sims: DataFrame,
                         top_n: int = 10, min_evidence: int = 2,
                         user: str = "user_id", item: str = "item_id",
                         pref: str = "pref",
                         cap_range: tuple[float, float] | None = None,
                         exclude_seen: bool = True,
                         boolean_pref: bool = False,
                         rescorer: IDRescorer | None = None) -> DataFrame:
    """(user_id, item_id, score) — GenericItemBasedRecommender.recommend

    as a DataFrame plan (GenericItemBasedRecommender.java:118-258):
    candidates are items similar to the user's preferred items
    (PreferredItemsNeighborhoodCandidateItemsStrategy); the estimate is
    Σ sim(cand, j)·pref(u, j) / Σ sim(cand, j) over the user's items j
    with a defined similarity; estimates built on fewer than
    ``min_evidence`` (reference: 2, :251-253) points are dropped; the
    denominator is the raw (possibly negative) similarity sum, :241-254.

    ``item_sims``: (item_a, item_b, sim) — item_a is the candidate side;
    feed ``llr_item_similarity`` output or any measure's item pairs.

    ``boolean_pref=True`` is GenericBooleanPrefItemBasedRecommender
    (.java:52-64): the estimate is the plain similarity SUM over the
    user's items with a defined similarity to the candidate (one point
    of evidence suffices — foundAPref).
    """
    if boolean_pref:
        min_evidence = 1
    p = prefs.select(F.col(user).alias("__u"), F.col(item).alias("__j"),
                     F.col(pref).cast("double").alias("__p"))
    s = item_sims.select(F.col("item_a").alias("__cand"),
                         F.col("item_b").alias("__j"),
                         F.col("sim").cast("double").alias("__s"))
    return _rank(p.join(s, "__j"), prefs, user, item, "__cand", "__s", "__p",
                 top_n, min_evidence, cap_range, rescorer,
                 boolean_pref=boolean_pref, exclude_seen=exclude_seen)


def recommend_anonymous(prefs: DataFrame, anon_prefs: list,
                        top_n: int = 10, n_neighbors: int = 10,
                        min_evidence: int = 2, measure: str = "cosine",
                        user: str = "user_id", item: str = "item_id",
                        pref: str = "pref",
                        rescorer: IDRescorer | None = None) -> DataFrame:
    """(item_id, score) — cold-start recommendations for a user NOT in

    the model (PlusAnonymousUserDataModel.java:81-200: inject a TEMP
    user's preferences, run the plain user-based recommender, remove
    the temp user). The Spark twin never rebuilds the all-pairs
    similarity table: the anonymous vector enters as a broadcast
    literal, one pass over the preference table computes its cosine /
    cooccurrence similarity to every co-rated user, and the usual
    neighborhood estimate follows — O(|prefs|), zero quadratic work.

    ``anon_prefs``: list of (item_id, pref) for the anonymous user.
    ``measure``: 'cosine' (UncenteredCosineSimilarity) or
    'cooccurrence' (shared-item counts).
    """
    spark = prefs.sparkSession
    anon = spark.createDataFrame(
        [(i, float(p)) for i, p in anon_prefs],
        schema=prefs.select(F.col(item).alias("__it"),
                            F.col(pref).cast("double").alias("__ap"))
        .schema)
    p_ = prefs.select(F.col(user).alias("__u"), F.col(item).alias("__it"),
                      F.col(pref).cast("double").alias("__p"))
    co = p_.join(F.broadcast(anon), "__it")
    if measure == "cosine":
        # AbstractSimilarity.java:110-223 accumulates ONLY over co-rated
        # items — both norms come from the shared rows
        agg = co.groupBy("__u").agg(
            F.sum(F.col("__p") * F.col("__ap")).alias("__sxy"),
            F.sum(F.col("__p") * F.col("__p")).alias("__syy"),
            F.sum(F.col("__ap") * F.col("__ap")).alias("__sxx"),
            F.count("*").alias("__n"))
        sims = agg.select(
            "__u",
            (F.col("__sxy") / (F.sqrt(F.col("__sxx"))
                               * F.sqrt(F.col("__syy")))).alias("sim"),
            "__n")
    elif measure == "cooccurrence":
        sims = (co.groupBy("__u")
                .agg(F.count("*").cast("double").alias("sim"),
                     F.count("*").alias("__n")))
    else:
        raise ValueError(measure)
    nb = global_topk(sims.filter(~F.isnan(F.col("sim"))),
                     "sim", n_neighbors, tiebreak_cols=["__u"])
    cand = p_.join(F.broadcast(nb.select("__u", "sim")), "__u")
    seen = spark.createDataFrame([(i,) for i, _ in anon_prefs],
                                 anon.select("__it").schema)
    cand = cand.join(F.broadcast(seen), "__it", "left_anti")
    cand = filter_candidates(cand, "__it", rescorer)
    est = (_weighted_estimate(cand, ["__it"], "sim", "__p", min_evidence)
           .select(F.col("__it").alias("item_id"), "score"))
    est = apply_rescorer(est, "item_id", "score", rescorer)
    return global_topk(est, "score", top_n, tiebreak_cols=["item_id"])


def most_similar_items(item_sims: DataFrame, n: int,
                       rescorer: IDRescorer | None = None) -> DataFrame:
    """Top-N similar items per item (GenericItemBasedRecommender.

    mostSimilarItems, :162-229 — TopItems over the similarity table;
    the rescorer plays MostSimilarEstimator's Rescorer<LongPair> role
    applied to the candidate item id)."""
    s = apply_rescorer(item_sims, "item_b", "sim", rescorer)
    return topk_per_group(s, ["item_a"], "sim", n,
                          tiebreak_cols=["item_b"])


def most_similar_users(sims: DataFrame, n: int,
                       rescorer: IDRescorer | None = None) -> DataFrame:
    """Top-N users by similarity per user (mostSimilarUserIDs,

    GenericUserBasedRecommender.java:119-132; rescorer =
    TopItems.getTopUsers' hook, TopItems.java:95-110)."""
    s = apply_rescorer(sims, "user_b", "sim", rescorer)
    return topk_per_group(s, ["user_a"], "sim", n,
                          tiebreak_cols=["user_b"])


def ir_stats(recs: DataFrame, relevant: DataFrame, n: int,
             per_user: bool = False) -> DataFrame:
    """precision@N / recall@N (GenericRecommenderIRStatsEvaluator).

    ``recs``: (user_id, item_id, score) top-N recommendations;
    ``relevant``: (user_id, item_id) held-out relevant items.
    Macro-averaged over users that have ≥1 relevant item.
    ``per_user=True`` returns the per-user frame instead (hits and the
    two ratios are single int divisions — bit-exact across engines,
    unlike the macro float average, which is why the gate checks this
    form).
    """
    rel_counts = relevant.groupBy("user_id").agg(
        F.count("*").alias("__n_rel"))
    hits = (recs.join(relevant.withColumn("__hit", F.lit(1)),
                      ["user_id", "item_id"], "left")
            .groupBy("user_id")
            .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__hits"),
                 F.count("*").alias("__n_rec")))
    pu = (rel_counts.join(hits, "user_id", "left")
          .select("user_id",
                  F.coalesce(F.col("__hits"), F.lit(0)).alias("hits"),
                  F.col("__n_rel").alias("n_rel"),
                  (F.coalesce(F.col("__hits"), F.lit(0)) /
                   F.least(F.lit(n), F.col("__n_rel")))
                  .alias("precision_at_n"),
                  (F.coalesce(F.col("__hits"), F.lit(0)) /
                   F.col("__n_rel")).alias("recall_at_n")))
    if per_user:
        return pu
    return pu.agg(F.avg("precision_at_n").alias("precision"),
                  F.avg("recall_at_n").alias("recall"),
                  F.count("*").alias("n_users"))


def kfold_split(prefs: DataFrame, k: int, seed: int = 11,
                user: str = "user_id", item: str = "item_id") -> DataFrame:
    """Adds ``fold`` in [0, k) by deterministic hash of (user, item) —

    retry-stable and engine-replayable (AbstractKFoldRecommenderEvaluator's
    random split, made deterministic as everything else here)."""
    return prefs.withColumn(
        "fold", F.pmod(F.xxhash64(F.col(user), F.col(item), F.lit(seed)),
                       F.lit(k)).cast("int"))


def evaluate_fold(train: DataFrame, test: DataFrame, n_neighbors: int = 20,
                  measure: str = "cosine", user: str = "user_id",
                  item: str = "item_id", pref: str = "pref") -> DataFrame:
    """Predict held-out prefs from train; returns (mae, rmse, n_scored).

    RMSRecommenderEvaluatorKFold's inner loop as one DataFrame plan.
    """
    sims = exact_user_similarity(train, measure, user, item, pref)
    nb = nearest_n_neighborhood(sims, n_neighbors)
    np_ = train.select(F.col(user).alias("__nb"), F.col(item).alias("__it"),
                       F.col(pref).cast("double").alias("__p"))
    cand = (nb.select(F.col("user_a").alias("__u"),
                      F.col("user_b").alias("__nb"), "sim")
            .join(np_, "__nb"))
    est = _weighted_estimate(cand, ["__u", "__it"], "sim", "__p", 2)
    t = test.select(F.col(user).alias("__u"), F.col(item).alias("__it"),
                    F.col(pref).cast("double").alias("__truth"))
    scored = t.join(est, ["__u", "__it"])
    return scored.agg(
        F.avg(F.abs(F.col("score") - F.col("__truth"))).alias("mae"),
        F.sqrt(F.avg(F.pow(F.col("score") - F.col("__truth"), 2)))
        .alias("rmse"),
        F.count("*").alias("n_scored"))


# ---------------------------------------------------------------------------
# Taste baseline recommenders — the control arms for evaluator comparisons
# (ItemAverageRecommender.java:51-110, ItemUserAverageRecommender.java:52-125,
# RandomRecommender.java:40-95; studied, not copied)
# ---------------------------------------------------------------------------


def item_average_recommend(prefs: DataFrame, top_n: int = 10,
                           user: str = "user_id", item: str = "item_id",
                           pref: str = "pref",
                           rescorer: IDRescorer | None = None) -> DataFrame:
    """(user_id, item_id, score) — estimate(u, i) = mean pref of item i

    over ALL users (ItemAverageRecommender.doEstimatePreference), top-N
    unseen items per user.

    Scale shape: the score is user-independent, so a user's top-N unseen
    is a prefix of ONE global ranking. We take the global top
    (N + max_seen) items (excluding a user's seen items removes at most
    max_seen of them — still >= N left, so this is EXACT), broadcast that
    tiny list, and anti-join — no users x items blow-up. A rescorer
    (ItemAverageRecommender.recommend:61) keeps that shape: rescore(item,
    itemAvg) is still user-independent, so it is applied to the per-item
    table BEFORE the global prefix.
    """
    avgs = prefs.groupBy(F.col(item).alias("item_id")).agg(
        F.avg(F.col(pref).cast("double")).alias("score"))
    avgs = apply_rescorer(avgs, "item_id", "score", rescorer)
    max_seen = (prefs.groupBy(user).agg(F.count("*").alias("n"))
                .agg(F.max("n")).first()[0]) or 0
    m = top_n + int(max_seen)
    top_items = global_topk(avgs, "score", m, tiebreak_cols=["item_id"])
    users = prefs.select(F.col(user).alias("user_id")).distinct()
    cand = users.crossJoin(F.broadcast(top_items))
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    cand = cand.join(seen, ["user_id", "item_id"], "left_anti")
    return topk_per_group(cand, ["user_id"], "score", top_n,
                          tiebreak_cols=["item_id"])


def item_user_average_recommend(prefs: DataFrame, top_n: int = 10,
                                user: str = "user_id",
                                item: str = "item_id",
                                pref: str = "pref",
                                rescorer: IDRescorer | None = None
                                ) -> DataFrame:
    """ItemAverage shifted by the user's bias: estimate(u, i) =

    itemAvg(i) + (userAvg(u) - overallAvg)
    (ItemUserAverageRecommender.doEstimatePreference:107-120). The shift
    is constant per user, so the per-user RANKING equals item-average's —
    the same broadcast-top-M plan stays exact; only the score column
    carries the user term.

    A rescorer's id FILTER keeps the prefix plan exact (it only removes
    items); a rescore FUNCTION sees the user-shifted score, which can
    reorder differently per user, so that case widens the prefix to the
    full item set (all-unknown-items shape) before rescore + rank.
    """
    p = F.col(pref).cast("double")
    avgs = prefs.groupBy(F.col(item).alias("item_id")).agg(
        F.avg(p).alias("__iavg"))
    avgs = filter_candidates(avgs, "item_id", rescorer)
    uavgs = prefs.groupBy(F.col(user).alias("user_id")).agg(
        F.avg(p).alias("__uavg"))
    overall = float(prefs.agg(F.avg(p)).first()[0])
    max_seen = (prefs.groupBy(user).agg(F.count("*").alias("n"))
                .agg(F.max("n")).first()[0]) or 0
    m = top_n + int(max_seen)
    if rescorer is not None and rescorer._rescore is not None:
        top_items = avgs  # rescore is user-dependent: no exact prefix
        top_items_b = top_items
    else:
        top_items = global_topk(avgs, "__iavg", m,
                                tiebreak_cols=["item_id"])
        top_items_b = F.broadcast(top_items)
    cand = uavgs.crossJoin(top_items_b)
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    cand = (cand.join(seen, ["user_id", "item_id"], "left_anti")
            .select("user_id", "item_id",
                    (F.col("__iavg") + (F.col("__uavg") - F.lit(overall)))
                    .alias("score")))
    if rescorer is not None and rescorer._rescore is not None:
        cand = apply_rescorer(cand, "item_id", "score", rescorer)
    return topk_per_group(cand, ["user_id"], "score", top_n,
                          tiebreak_cols=["item_id"])


def random_recommend(prefs: DataFrame, top_n: int = 10, seed: int = 13,
                     user: str = "user_id", item: str = "item_id",
                     pref: str = "pref",
                     candidates: DataFrame | None = None) -> DataFrame:
    """RandomRecommender: N random unseen items per user, scored

    uniformly in [minPref, maxPref] (.java:44-95). The reference draws
    from a stateful java Random; here both the item choice and the score
    derive from xxhash64(user, item, seed) so retries, both cluster
    sizes, and the DuckDB oracle agree — determinism is a deliberate
    upgrade, the estimator's distribution is the same.

    ``candidates``: optional (user_id, item_id) frame (e.g. from
    sampling_candidate_items) to bound the candidate set; defaults to
    the all-unknown-items strategy (users x items anti-join — fine for
    evaluation corpora, use a strategy at web scale).
    """
    bounds = prefs.agg(
        F.min(F.col(pref).cast("double")).alias("lo"),
        F.max(F.col(pref).cast("double")).alias("hi")).first()
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    if candidates is None:
        users = prefs.select(F.col(user).alias("user_id")).distinct()
        items = prefs.select(F.col(item).alias("item_id")).distinct()
        candidates = users.crossJoin(items)
    else:
        candidates = candidates.select(F.col(user).alias("user_id"),
                                       F.col(item).alias("item_id"))
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    cand = candidates.join(seen, ["user_id", "item_id"], "left_anti")
    u01 = (F.pmod(F.xxhash64("user_id", "item_id", F.lit(seed)),
                  F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30)))
    scored = cand.select("user_id", "item_id",
                         (F.lit(lo) + u01 * F.lit(hi - lo)).alias("score"))
    return topk_per_group(scored, ["user_id"], "score", top_n,
                          tiebreak_cols=["item_id"])


def item_average_estimate(train: DataFrame, pairs: DataFrame,
                          user: str = "user_id", item: str = "item_id",
                          pref: str = "pref") -> DataFrame:
    """Score arbitrary (user, item) pairs with the item-average model —

    the estimator half of the baseline, for evaluator comparisons."""
    avgs = train.groupBy(F.col(item).alias(item)).agg(
        F.avg(F.col(pref).cast("double")).alias("est"))
    return pairs.select(user, item).join(avgs, item, "left")


def item_user_average_estimate(train: DataFrame, pairs: DataFrame,
                               user: str = "user_id",
                               item: str = "item_id",
                               pref: str = "pref") -> DataFrame:
    p = F.col(pref).cast("double")
    avgs = train.groupBy(F.col(item).alias(item)).agg(
        F.avg(p).alias("__iavg"))
    uavgs = train.groupBy(F.col(user).alias(user)).agg(
        F.avg(p).alias("__uavg"))
    overall = float(train.agg(F.avg(p)).first()[0])
    return (pairs.select(user, item)
            .join(avgs, item, "left").join(uavgs, user, "left")
            .select(user, item,
                    (F.col("__iavg") + (F.col("__uavg") - F.lit(overall)))
                    .alias("est")))


# ---------------------------------------------------------------------------
# Candidate-item strategies (AbstractCandidateItemsStrategy family)
# ---------------------------------------------------------------------------


def all_unknown_items_candidates(prefs: DataFrame, user: str = "user_id",
                                 item: str = "item_id") -> DataFrame:
    """AllUnknownItemsCandidateItemsStrategy.java: every item the user

    has not rated. users x items anti-join — the evaluation-scale
    default; at web scale use sampling_candidate_items."""
    users = prefs.select(F.col(user).alias("user_id")).distinct()
    items = prefs.select(F.col(item).alias("item_id")).distinct()
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    return users.crossJoin(items).join(seen, ["user_id", "item_id"],
                                       "left_anti")


def preferred_items_neighborhood_candidates(prefs: DataFrame,
                                            user: str = "user_id",
                                            item: str = "item_id"
                                            ) -> DataFrame:
    """PreferredItemsNeighborhoodCandidateItemsStrategy.java:41-60: items

    preferred by any user who shares >= 1 preferred item with the target
    user, minus the target's own items. Two self-equi-joins on the pref
    table — the unsampled co-visitation closure."""
    pi = prefs.select(F.col(user).alias("__u"), F.col(item).alias("__i"))
    co_users = (pi.join(pi.select(F.col("__u").alias("__v"),
                                  F.col("__i")), "__i")
                .select("__u", "__v").distinct())
    cand = (co_users.join(pi.select(F.col("__u").alias("__v"),
                                    F.col("__i").alias("item_id")), "__v")
            .select(F.col("__u").alias("user_id"), "item_id").distinct())
    seen = pi.select(F.col("__u").alias("user_id"),
                     F.col("__i").alias("item_id"))
    return cand.join(seen, ["user_id", "item_id"], "left_anti")


def all_similar_items_candidates(prefs: DataFrame, item_sims: DataFrame,
                                 user: str = "user_id",
                                 item: str = "item_id") -> DataFrame:
    """AllSimilarItemsCandidateItemsStrategy.java:35-50: items similar

    (per a precomputed item-item similarity frame (item_a, item_b, sim))
    to anything the user preferred, minus the user's own items."""
    pi = prefs.select(F.col(user).alias("user_id"),
                      F.col(item).alias("item_a"))
    sims = item_sims.select("item_a", F.col("item_b").alias("item_id"))
    mirror = item_sims.select(F.col("item_b").alias("item_a"),
                              F.col("item_a").alias("item_id"))
    cand = (pi.join(sims.unionByName(mirror).distinct(), "item_a")
            .select("user_id", "item_id").distinct())
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    return cand.join(seen, ["user_id", "item_id"], "left_anti")


def sampling_candidate_items(prefs: DataFrame, items_factor: int = 30,
                             users_per_item_factor: int = 30,
                             candidates_per_user_factor: int = 30,
                             seed: int = 17, user: str = "user_id",
                             item: str = "item_id",
                             skew_guard: bool = False) -> DataFrame:
    """SamplingCandidateItemsStrategy.java:60-140 — the web-scale lever:

    the co-visitation closure with three caps, each max = factor *
    (1 + log2(n)): (1) the target's preferred items, (2) users per such
    item, (3) that user's items contributed as candidates. The reference
    samples with a per-call Random; here each cap keeps the top rows by
    xxhash64(..., seed) rank — same expected behavior, deterministic and
    retry/rerun-stable. Each cap is one window row_number; output is
    bounded by the product of the three maxima per user, independent of
    corpus size.

    ``skew_guard=True`` protects the window sorts from pathological
    keys (one item with 10^8 raters concentrates that key's sort in a
    single task): rows are pre-filtered to hash values below a per-key
    threshold of ~4·cap expected survivors, computed from exact per-key
    counts. Because the threshold cuts on the SAME hash the window
    orders by, the surviving top-cap set is IDENTICAL to the unguarded
    one whenever ≥ cap rows survive — P(fewer) ≈ exp(−cap/2) per key,
    negligible at the log-scaled caps; the guard costs one count-agg +
    join per stage, so it defaults off for ordinary inputs.
    """
    import math

    n_users = prefs.select(user).distinct().count()
    n_items = prefs.select(item).distinct().count()

    def cap(factor: int, n: int) -> int:
        return int(factor * (1.0 + math.log2(max(n, 1))))

    max_items = cap(items_factor, n_items)
    max_users_per_item = cap(users_per_item_factor, n_users)
    max_items_per_user = cap(candidates_per_user_factor, n_items)

    def guard(df, key: str, hash_expr, cap_n: int):
        if not skew_guard:
            return df
        cnt = df.groupBy(key).agg(F.count("*").alias("__cnt"))
        u01 = hash_expr.cast("double") / F.lit(float(2 ** 64)) + 0.5
        return (df.join(cnt, key)
                .filter(u01 < F.lit(4.0) * F.lit(float(cap_n))
                        / F.col("__cnt"))
                .drop("__cnt"))

    pi = prefs.select(F.col(user).alias("__u"), F.col(item).alias("__i"))
    # (1) sample the target's preferred items
    h1 = F.xxhash64("__u", "__i", F.lit(seed))
    w1 = Window.partitionBy("__u").orderBy(h1, F.col("__i"))
    seeds_ = (guard(pi, "__u", h1, max_items)
              .withColumn("__r", F.row_number().over(w1))
              .filter(F.col("__r") <= max_items).drop("__r"))
    # (2) sample users per preferred item
    h2 = F.xxhash64("__i", "__v", F.lit(seed + 1))
    w2 = Window.partitionBy("__i").orderBy(h2, F.col("__v"))
    co = (guard(pi.select(F.col("__i"), F.col("__u").alias("__v")),
                "__i", h2, max_users_per_item)
          .withColumn("__r", F.row_number().over(w2))
          .filter(F.col("__r") <= max_users_per_item).drop("__r"))
    # (3) sample each co-user's items as candidates
    h3 = F.xxhash64("__v", "__c", F.lit(seed + 2))
    w3 = Window.partitionBy("__v").orderBy(h3, F.col("__c"))
    vitems = (guard(pi.select(F.col("__u").alias("__v"),
                              F.col("__i").alias("__c")),
                    "__v", h3, max_items_per_user)
              .withColumn("__r", F.row_number().over(w3))
              .filter(F.col("__r") <= max_items_per_user).drop("__r"))
    cand = (seeds_.join(co, "__i")
            .select("__u", "__v").distinct()
            .join(vitems, "__v")
            .select(F.col("__u").alias("user_id"),
                    F.col("__c").alias("item_id")).distinct())
    seen = prefs.select(F.col(user).alias("user_id"),
                        F.col(item).alias("item_id"))
    return cand.join(seen, ["user_id", "item_id"], "left_anti")
