"""Recommender: CMS-vs-exact similarity agreement, estimate semantics,

k-fold evaluation sanity. Interactions derived from the orders table
(custkey x orderpriority would be too coarse; we synthesize user-item
prefs from order lines)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mahout_spark.operators.recommender import (cms_user_similarity,
                                                evaluate_fold,
                                                exact_user_similarity,
                                                kfold_split,
                                                nearest_n_neighborhood,
                                                recommend,
                                                user_cms_profiles)


@pytest.fixture(scope="module")
def prefs(spark):
    # user = customer, item = part, pref = total quantity ordered
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(F.col("o_custkey").alias("user_id"),
                     F.col("l_partkey").alias("item_id"))
            .agg(F.sum("l_quantity").alias("pref"))).persist()


def test_exact_similarity_symmetric(prefs):
    sims = exact_user_similarity(prefs).filter(F.col("n") >= 2)
    pdf = sims.toPandas()
    m = {(r.user_a, r.user_b): r.sim for r in pdf.itertuples()}
    for (a, b), s in list(m.items())[:50]:
        assert abs(m[(b, a)] - s) < 1e-12


def test_cms_similarity_tracks_exact(spark, prefs):
    # wide CMS → few collisions → cosine ≈ exact cosine over shared items
    small = prefs.filter(F.col("user_id") < 40)
    profiles = user_cms_profiles(small, depth=5, width=2048, seed=3)
    approx = cms_user_similarity(profiles).toPandas()
    # CMS cosine is over full profile vectors (not just co-rated items):
    # compare against the true vector cosine computed in NumPy
    pdf = small.toPandas()
    items = {i: j for j, i in enumerate(sorted(pdf["item_id"].unique()))}
    users = sorted(pdf["user_id"].unique())
    mat = np.zeros((len(users), len(items)))
    uidx = {u: i for i, u in enumerate(users)}
    for r in pdf.itertuples():
        mat[uidx[r.user_id], items[r.item_id]] = r.pref
    err = []
    for r in approx.itertuples():
        va, vb = mat[uidx[r.user_a]], mat[uidx[r.user_b]]
        den = np.linalg.norm(va) * np.linalg.norm(vb)
        exact = va @ vb / den if den else np.nan
        if not np.isnan(exact):
            err.append(abs(r.sim - exact))
    assert len(err) > 10
    assert np.mean(err) < 0.05, np.mean(err)


def test_cms_user_similarity_topn_equals_allpairs_neighborhood(spark, prefs):
    # the blocked tile route (top_n=) must reproduce the all-pairs
    # crossJoin + nearest-N neighborhood exactly (float64 tiles)
    from mahout_spark.operators.recommender import nearest_n_neighborhood

    small = prefs.filter(F.col("user_id") < 40)
    profiles = user_cms_profiles(small, depth=5, width=256, seed=3)
    blocked = {(r.user_a, r.user_b): r.sim
               for r in cms_user_similarity(profiles, top_n=5)
               .toPandas().itertuples()}
    allpairs = nearest_n_neighborhood(cms_user_similarity(profiles), 5)
    want = {(r.user_a, r.user_b): r.sim
            for r in allpairs.toPandas().itertuples()}
    assert blocked.keys() == want.keys()
    for k_, v in want.items():
        assert abs(blocked[k_] - v) < 1e-12, k_


def test_boolean_pref_user_based_golden(spark):
    # GenericBooleanPrefUserBasedRecommender: score = sum of sims of
    # neighbors having the item; one neighbor is enough evidence
    from mahout_spark.operators.recommender import recommend

    prefs = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 1.0),
         (2, 10, 1.0), (2, 12, 1.0),
         (3, 11, 1.0), (3, 12, 1.0), (3, 13, 1.0)],
        ["user_id", "item_id", "pref"])
    nb = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.4)], ["user_a", "user_b", "sim"])
    recs = {(r["user_id"], r["item_id"]): r["score"]
            for r in recommend(prefs, nb, top_n=5,
                               boolean_pref=True).collect()}
    # user 1 unseen: 12 (from both: 0.9+0.4), 13 (from 3: 0.4)
    assert abs(recs[(1, 12)] - 1.3) < 1e-12
    assert abs(recs[(1, 13)] - 0.4) < 1e-12
    assert (1, 10) not in recs and (1, 11) not in recs


def test_boolean_pref_item_based_golden(spark):
    # GenericBooleanPrefItemBasedRecommender: score = sum of sims between
    # the candidate and the user's items (prefs ignored)
    from mahout_spark.operators.recommender import recommend_item_based

    prefs = spark.createDataFrame(
        [(1, 10, 5.0), (1, 11, 2.0)], ["user_id", "item_id", "pref"])
    sims = spark.createDataFrame(
        [(12, 10, 0.7), (12, 11, 0.2), (13, 10, 0.5)],
        ["item_a", "item_b", "sim"])
    recs = {(r["user_id"], r["item_id"]): r["score"]
            for r in recommend_item_based(prefs, sims, top_n=5,
                                          boolean_pref=True).collect()}
    # pref values (5.0, 2.0) must NOT weight the estimate
    assert abs(recs[(1, 12)] - 0.9) < 1e-12
    assert abs(recs[(1, 13)] - 0.5) < 1e-12


def test_recommend_excludes_seen_and_caps(prefs):
    sims = exact_user_similarity(prefs).filter(F.col("n") >= 1)
    nb = nearest_n_neighborhood(sims, 10)
    recs = recommend(prefs, nb, top_n=5, min_evidence=1,
                     cap_range=(0.0, 50.0))
    r = recs.toPandas()
    assert len(r) > 0
    assert (r["score"] <= 50.0).all() and (r["score"] >= 0.0).all()
    seen = prefs.select("user_id", "item_id").toPandas()
    seen_set = set(zip(seen["user_id"], seen["item_id"]))
    assert not any((u, i) in seen_set
                   for u, i in zip(r["user_id"], r["item_id"]))
    assert (r.groupby("user_id").size() <= 5).all()


def test_kfold_evaluation_runs(prefs):
    folded = kfold_split(prefs, 3, seed=11)
    train = folded.filter(F.col("fold") != 0).drop("fold")
    test = folded.filter(F.col("fold") == 0).drop("fold")
    row = evaluate_fold(train, test, n_neighbors=15).collect()[0]
    assert row["n_scored"] > 0
    assert row["mae"] > 0 and row["rmse"] >= row["mae"]


def test_recommend_cms_tracks_exact(spark, prefs):
    """The CMS branch (preference = cm.get(item)) reproduces exact
    recommend when the sketch is wide (few collisions)."""
    from mahout_spark.operators.recommender import (recommend_cms,
                                                    user_cms_profiles)

    small = prefs.filter(F.col("user_id") < 60)
    sims = exact_user_similarity(small).filter(F.col("n") >= 1)
    nb = nearest_n_neighborhood(sims, 8)

    exact = recommend(small, nb, top_n=5, min_evidence=1).toPandas()
    profiles = user_cms_profiles(small, depth=5, width=4096, seed=7)
    approx = recommend_cms(small, profiles, nb, top_n=5,
                           min_evidence=1).toPandas()

    e = {(r.user_id, r.item_id): r.score for r in exact.itertuples()}
    a = {(r.user_id, r.item_id): r.score for r in approx.itertuples()}
    common = set(e) & set(a)
    assert len(common) >= 0.8 * len(e)
    for k in common:
        # CMS estimates can only inflate preferences
        assert a[k] >= e[k] - 1e-9
        assert a[k] <= e[k] * 1.5 + 1e-9  # wide CMS -> few collisions


# ---------------------------------------------------------------------------
# Taste user-similarity measures — reference test goldens
# (mr/src/test/java/.../similarity/*SimilarityTest.java)
# ---------------------------------------------------------------------------


def _prefs(spark, rows):
    return spark.createDataFrame(rows, "user_id long, item_id long, pref double")


def _sim(spark, rows, measure):
    out = exact_user_similarity(_prefs(spark, rows), measure=measure)
    return {(r["user_a"], r["user_b"]): r["sim"] for r in out.collect()}


def test_pearson_user_similarity_goldens(spark):
    # PearsonCorrelationSimilarityTest.testSimple: (1,2,3) vs (2,5,6)
    rows = [(1, 0, 1.0), (1, 1, 2.0), (1, 2, 3.0),
            (2, 0, 2.0), (2, 1, 5.0), (2, 2, 6.0)]
    s = _sim(spark, rows, "pearson")
    assert abs(s[(1, 2)] - 0.9607689228305227) < 1e-12
    # testFullCorrelation1: identical vectors -> 1.0
    rows = [(1, 0, 3.0), (1, 1, -2.0), (2, 0, 3.0), (2, 1, -2.0)]
    s = _sim(spark, rows, "pearson")
    assert abs(s[(1, 2)] - 1.0) < 1e-12
    # testNoCorrelation3 shape: constant vector -> zero variance -> NaN
    rows = [(1, 0, 90.0), (1, 1, 90.0), (2, 0, 70.0), (2, 1, 80.0)]
    s = _sim(spark, rows, "pearson")
    import math

    assert math.isnan(s[(1, 2)])


def test_euclidean_user_similarity_golden(spark):
    # EuclideanDistanceSimilarityTest.testNoCorrelation1:
    # (3,-2) vs (-3,2) -> 1/(1+sqrt(52)/sqrt(2)) = 0.1639607805437114
    rows = [(1, 0, 3.0), (1, 1, -2.0), (2, 0, -3.0), (2, 1, 2.0)]
    s = _sim(spark, rows, "euclidean")
    assert abs(s[(1, 2)] - 0.1639607805437114) < 1e-12


def test_spearman_user_similarity_goldens(spark):
    # SpearmanCorrelationSimilarityTest: full/anti/simple
    base = [(1, 0, 1.0), (1, 1, 2.0), (1, 2, 3.0)]
    s = _sim(spark, base + [(2, 0, 4.0), (2, 1, 5.0), (2, 2, 6.0)],
             "spearman")
    assert abs(s[(1, 2)] - 1.0) < 1e-12
    s = _sim(spark, base + [(2, 0, 3.0), (2, 1, 2.0), (2, 2, 1.0)],
             "spearman")
    assert abs(s[(1, 2)] - (-1.0)) < 1e-12
    s = _sim(spark, base + [(2, 0, 2.0), (2, 1, 3.0), (2, 2, 1.0)],
             "spearman")
    assert abs(s[(1, 2)] - (-0.5)) < 1e-12


def test_tanimoto_user_similarity_goldens(spark):
    # TanimotoCoefficientSimilarityTest.testFullCorrelation2: same 3 items
    rows = [(1, 0, 1.0), (1, 1, 2.0), (1, 2, 3.0),
            (2, 0, 1.0), (2, 1, 2.0), (2, 2, 3.0)]
    s = _sim(spark, rows, "tanimoto")
    assert abs(s[(1, 2)] - 1.0) < 1e-12
    # overlap 1 of union 3 -> 1/3
    rows = [(1, 0, 1.0), (1, 1, 1.0), (2, 1, 1.0), (2, 2, 1.0)]
    s = _sim(spark, rows, "tanimoto")
    assert abs(s[(1, 2)] - (1.0 / 3.0)) < 1e-12


def test_loglikelihood_user_similarity_goldens(spark):
    # LogLikelihoodSimilarityTest.testCorrelation itemSimilarity goldens,
    # transposed (itemSimilarity == userSimilarity on the transposed
    # matrix; numItems of the transpose = 5 original users).
    # users 1..5 x items 0..4 (1.0 where rated):
    m = {1: [0, 1], 2: [0, 2], 3: [2, 3, 4], 4: [0, 1, 2, 3, 4],
         5: [1, 2, 3, 4]}
    rows = [(i, u, 1.0) for u, items in m.items() for i in items]
    s = _sim(spark, rows, "loglikelihood")
    assert abs(s[(1, 0)] - 0.12160727029227925) < 1e-12
    assert abs(s[(0, 1)] - 0.12160727029227925) < 1e-12
    assert abs(s[(1, 2)] - 0.5423213660693732) < 1e-12
    assert abs(s[(2, 3)] - 0.6905400104897509) < 1e-12
    assert abs(s[(3, 4)] - 0.8706358464330881) < 1e-12


def test_item_based_recommender(spark):
    from mahout_spark.operators.recommender import (most_similar_items,
                                                    recommend_item_based)

    # user 1 rated items 0,1; item 2 similar to both -> estimate =
    # (s20*p0 + s21*p1) / (s20 + s21)
    prefs = _prefs(spark, [(1, 0, 4.0), (1, 1, 2.0)])
    sims = spark.createDataFrame(
        [(2, 0, 0.5), (2, 1, 0.25), (0, 1, 0.9), (1, 0, 0.9)],
        "item_a long, item_b long, sim double")
    recs = recommend_item_based(prefs, sims, top_n=5, min_evidence=2)
    got = {(r["user_id"], r["item_id"]): r["score"] for r in recs.collect()}
    want = (0.5 * 4.0 + 0.25 * 2.0) / (0.5 + 0.25)
    assert set(got) == {(1, 2)}  # items 0,1 seen; only 2 has 2 evidences
    assert abs(got[(1, 2)] - want) < 1e-12

    top = most_similar_items(sims, 1).collect()
    best = {r["item_a"]: r["item_b"] for r in top}
    assert best[2] == 0  # 0.5 > 0.25


# ---------------------------------------------------------------------------
# recommend_cms: exact replay, zero similarity sums, cache hygiene
# ---------------------------------------------------------------------------


def _cms_fixture():
    """(prefs rows, neighborhood rows) — four targets sharing neighbors

    5..8, integer prefs (one 0.0) and dyadic similarities, so every
    weighted sum is exact in any summation order."""
    rng = np.random.default_rng(5)
    rows = []
    for u in range(1, 9):
        for i in rng.choice(np.arange(10, 22), size=6, replace=False):
            rows.append((u, int(i), float(rng.integers(1, 6))))
    rows.append((6, 30, 0.0))  # rated 0: CMS 0 unless it collides
    nb = [(t, n, float(rng.choice([0.25, 0.5, 0.75, 1.0])))
          for t in range(1, 5) for n in range(5, 9)]
    return rows, nb


def _replay_recommend_cms(rows, nb, profiles, top_n, min_evidence, cap,
                          filtered=()):
    """NumPy twin of recommend_cms: one point query per (target, neighbor,
    candidate), 0 ⇒ missing, weighted average, evidence, cap, top-N."""
    from mahout_spark.core import CountMinSketch

    sketches = {u: CountMinSketch.deserialize(bytes(b))
                for u, b in profiles.items()}
    seen = {(u, i) for u, i, _ in rows}
    acc, lookups = {}, []
    for t, n, sim in nb:
        for i in sorted({i for u, i, _ in rows if u == n}):
            if (t, i) in seen or i in filtered:
                continue
            est = float(sketches[n].point_batch(np.array([i]))[0])
            lookups.append((n, i, est))
            if est > 0:
                num, den, cnt = acc.get((t, i), (0.0, 0.0, 0))
                acc[(t, i)] = (num + sim * est, den + sim, cnt + 1)
    scored = {}
    for (t, i), (num, den, cnt) in acc.items():
        if cnt >= min_evidence and den != 0:
            scored[(t, i)] = min(cap[1], max(cap[0], num / den))
    out = set()
    for t in {t for t, _ in scored}:
        mine = sorted(((-s, i) for (u, i), s in scored.items() if u == t))
        out |= {(t, i, -s) for s, i in mine[:top_n]}
    return out, lookups


@pytest.mark.parametrize("filtered", [(), (15,)])
def test_recommend_cms_exact_replay(spark, filtered):
    from mahout_spark.operators.recommender import (recommend_cms,
                                                    user_cms_profiles)
    from mahout_spark.operators.rescorer import IDRescorer

    rows, nb_rows = _cms_fixture()
    prefs = _prefs(spark, rows)
    nb = spark.createDataFrame(nb_rows, "user_a long, user_b long, "
                                        "sim double")
    profiles = user_cms_profiles(prefs, depth=3, width=8, seed=2)
    blobs = {r["user_id"]: r["sketch"] for r in profiles.collect()}
    rescorer = (IDRescorer(is_filtered=lambda i: i.isin(*filtered))
                if filtered else None)
    got = recommend_cms(prefs, profiles, nb, top_n=3, min_evidence=2,
                        cap_range=(1.0, 4.5), rescorer=rescorer).collect()
    want, lookups = _replay_recommend_cms(rows, nb_rows, blobs, 3, 2,
                                          (1.0, 4.5), filtered)
    true = {(u, i): p for u, i, p in rows}
    assert any(e == 0 for *_, e in lookups)  # the 0 ⇒ missing branch
    assert any(e > true[(n, i)] for n, i, e in lookups)  # a collision
    assert len(got) == len(want) > 8
    assert {(r["user_id"], r["item_id"], r["score"]) for r in got} == want
    if filtered:
        unfiltered, _ = _replay_recommend_cms(rows, nb_rows, blobs, 3, 2,
                                              (1.0, 4.5))
        assert any(i in filtered for _, i, _ in unfiltered)
        assert not any(r["item_id"] in filtered for r in got)


def test_zero_similarity_sum_skips_the_item(spark):
    """An item whose neighbors all have similarity 0 has no estimate (the
    reference's NaN): no DIVIDE_BY_ZERO under ANSI mode, no row, and the
    positive-similarity estimates are unchanged."""
    from mahout_spark.operators.recommender import (recommend_cms,
                                                    recommend_item_based,
                                                    user_cms_profiles)

    prefs = _prefs(spark, [(1, 10, 4.0), (2, 10, 5.0), (2, 11, 3.0),
                           (3, 10, 2.0), (3, 11, 4.0), (4, 10, 1.0)])
    nb = spark.createDataFrame(
        [(1, 2, 0.0), (1, 3, 0.0), (4, 2, 0.5), (4, 3, 0.25)],
        "user_a long, user_b long, sim double")
    profiles = user_cms_profiles(prefs, depth=3, width=1024, seed=1)
    want = {(4, 11): (0.5 * 3.0 + 0.25 * 4.0) / (0.5 + 0.25)}
    for out in (recommend(prefs, nb, top_n=5, min_evidence=2),
                recommend_cms(prefs, profiles, nb, top_n=5,
                              min_evidence=2)):
        got = {(r["user_id"], r["item_id"]): r["score"]
               for r in out.collect()}
        assert got == want

    # item-based: item 12's only similarity to user 1's items is 0
    sims = spark.createDataFrame([(11, 10, 0.5), (12, 10, 0.0)],
                                 "item_a long, item_b long, sim double")
    got = {(r["user_id"], r["item_id"]): r["score"]
           for r in recommend_item_based(prefs.filter("user_id = 1"), sims,
                                         min_evidence=1).collect()}
    assert got == {(1, 11): 4.0}


def test_cms_recommender_chain_caches_nothing_else(spark):
    """profiles → cms_user_similarity(top_n) → recommend_cms caches no
    table of its own. The one table the chain leaves cached is the
    profiles frame that cms_topk_cosine pins for its block-count probe
    and never releases; recommend_cms must add nothing beside it."""
    from mahout_spark.operators.recommender import (recommend_cms,
                                                    user_cms_profiles)

    rows, _ = _cms_fixture()
    prefs = _prefs(spark, rows)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    profiles = user_cms_profiles(prefs, depth=3, width=64, seed=2)
    nb = cms_user_similarity(profiles, top_n=3)
    assert recommend_cms(prefs, profiles, nb, top_n=3,
                         min_evidence=1).collect()
    assert len(set(jsc.getPersistentRDDs().keys()) - before) <= 1
    profiles.unpersist(blocking=True)
    assert set(jsc.getPersistentRDDs().keys()) <= before


def _zipf_ratings(spark, n_users=60, n_items=40, seed=9):
    """Distinct (user, item, pref) rows: lognormal ratings per user, Zipf
    item popularity, integer prefs in 1..5 (the benchmark's shape)."""
    rng = np.random.default_rng(seed)
    p = np.arange(1, n_items + 1, dtype=float) ** -1.1
    rows = set()
    for u in range(n_users):
        n = int(np.clip(np.rint(rng.lognormal(2.0, 0.7)), 2, 30))
        for i in rng.choice(n_items, size=n, p=p / p.sum()):
            rows.add((u * 3 + 11, int(i) + 5))
    return _prefs(spark, [(u, i, float(rng.integers(1, 6)))
                          for u, i in sorted(rows)])


def test_user_cms_profiles_plan_has_one_python_operator(spark):
    # one Python pass builds every profile: no partial blobs, no merge
    import re

    from mahout_spark.operators.recommender import user_cms_profiles

    plan = (user_cms_profiles(_zipf_ratings(spark))._jdf.queryExecution()
            .executedPlan().toString())
    ops = re.findall(r"\b(?:MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
                     r"ArrowEvalPython|BatchEvalPython)\b", plan)
    assert len(ops) == 1, plan


def test_recommend_cms_sends_each_rated_user_to_python_once(spark,
                                                            monkeypatch):
    # the point-lookup UDF sees one row per rated user (its probe keys as
    # a list, its sketch once), not one row per rated (user, item)
    from mahout_spark.operators.recommender import (recommend_cms,
                                                    user_cms_profiles)

    prefs = _zipf_ratings(spark)
    profiles = user_cms_profiles(prefs, depth=3, width=64, seed=2)
    nb = cms_user_similarity(profiles, top_n=5)
    seen = spark.sparkContext.accumulator(0)

    def counting(method):
        def wrapped(self, f, *args, **kwargs):
            if f.__name__ == "lookup":
                def f2(batches, f=f, acc=seen):
                    def counted():
                        for b in batches:
                            acc.add(len(b))
                            yield b
                    return f(counted())
                return method(self, f2, *args, **kwargs)
            return method(self, f, *args, **kwargs)
        return wrapped

    frame = type(prefs)  # the session's concrete DataFrame class
    for name in ("mapInPandas", "mapInArrow"):
        monkeypatch.setattr(frame, name, counting(getattr(frame, name)))
    recs = recommend_cms(prefs, profiles, nb, top_n=3, min_evidence=1)
    monkeypatch.undo()
    spark.sparkContext.setJobGroup("recommend_cms-probe-rows",
                                   "count the rows sent to the lookup UDF")
    try:
        assert recs.collect()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    n_users = prefs.select("user_id").distinct().count()
    assert n_users < prefs.count()
    assert seen.value == n_users
    profiles.unpersist()
