"""F2/F3/F4 golden pipeline tests — the reference's own fixtures and

full-precision expected values (SimilarityAnalysisSuite.scala:52-72,
ItemSimilarityDriverSuite.scala:60-88, RowSimilarityJobTest.java:65-145)."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from mahout_spark.operators.cooccurrence import (llr_cross_similarity,
                                                 llr_item_similarity)
from mahout_spark.operators.drm import drm_parallelize
from mahout_spark.operators.rowsim import row_similarity
from mahout_spark.sources.text_delimited import (read_elements, read_rows,
                                                 write_rows)

LLR_A = 1.7260924347106847
LLR_B = 0.6795961471815897
LLR_C = 4.498681156950466

A = np.array([
    [1, 1, 0, 0, 0],
    [0, 0, 1, 1, 0],
    [0, 0, 0, 0, 1],
    [1, 0, 0, 1, 0]], dtype=float)

B = np.array([
    [1, 1, 1, 1, 0],
    [1, 1, 1, 1, 0],
    [0, 0, 1, 0, 1],
    [1, 1, 0, 1, 0]], dtype=float)

ATA_CONTROL = np.zeros((5, 5))
ATA_CONTROL[0, 1] = ATA_CONTROL[1, 0] = LLR_A
ATA_CONTROL[2, 3] = ATA_CONTROL[3, 2] = LLR_A

ATB_CONTROL = np.array([
    [LLR_A, LLR_A, LLR_A, LLR_A, 0.0],
    [LLR_B, LLR_B, LLR_B, LLR_B, 0.0],
    [LLR_B, LLR_B, LLR_B, LLR_B, 0.0],
    [LLR_A, LLR_A, LLR_A, LLR_A, 0.0],
    [0.0,   0.0,   LLR_B, 0.0,   LLR_C]])


def to_dense(pdf, n, a="item_a", b="item_b", v="llr"):
    m = np.zeros((n, n))
    for r in pdf.itertuples():
        m[int(getattr(r, a)), int(getattr(r, b))] = getattr(r, v)
    return m


def test_f3_llr_ata_golden(spark):
    drm = drm_parallelize(spark, A, 2)
    out = llr_item_similarity(drm, k=50, downsample=False).toPandas()
    got = to_dense(out, 5)
    assert np.linalg.norm(got - ATA_CONTROL) < 1e-10


def test_f3_llr_atb_golden(spark):
    da = drm_parallelize(spark, A, 2)
    db = drm_parallelize(spark, B, 2)
    out = llr_cross_similarity(da, db, k=50).toPandas()
    got = to_dense(out, 5)
    assert np.linalg.norm(got - ATB_CONTROL) < 1e-10



def _pair_fixture(spark, row_type="int"):
    """12 rows x 9 items, every cell distinct, rows keyed by int or by
    string; small enough that no downsampling cap (500) ever bites."""
    rng = np.random.default_rng(5)
    cells = [(u, i) for u in range(12) for i in range(9)
             if rng.random() < 0.4 + 0.05 * i]
    if row_type == "string":
        cells = [(f"user-{u}", i) for u, i in cells]
    return spark.createDataFrame(cells, f"row_id {row_type}, col_id int")


def test_llr_cross_similarity_string_rows_match_integer_rows(spark):
    """The hashed row key of a string-keyed A'B join gives the same result
    as the exact integer join on the same matrix."""
    ints = _pair_fixture(spark)
    strs = _pair_fixture(spark, "string")
    view_i = ints.withColumn("col_id", (F.col("col_id") * 7) % 9)
    view_s = strs.withColumn("col_id", (F.col("col_id") * 7) % 9)
    got_i = sorted(map(tuple, llr_cross_similarity(ints, view_i,
                                                   k=50).collect()))
    got_s = sorted(map(tuple, llr_cross_similarity(strs, view_s,
                                                   k=50).collect()))
    assert got_s == got_i
    assert len(got_i) > 20


def test_rowsim_loglikelihood_equals_llr_item_similarity(spark):
    """Both operators run one pair kernel: LLR row similarity over the
    transposed matrix keeps exactly the llr_item_similarity pairs, with
    sim == 1 - 1/(1 + llr) bit for bit (equal integer counts, one
    llr_cooc_expr)."""
    triples = _pair_fixture(spark).withColumn("value", F.lit(1.0))
    llr = {(r.item_a, r.item_b): r.llr for r in llr_item_similarity(
        triples, k=100, downsample=False).collect()}
    sim = {(r.row_a, r.row_b): r.sim for r in row_similarity(
        triples, measure="loglikelihood", row="col_id", col="row_id",
        k=100).collect()}
    assert len(llr) > 40
    assert sim.keys() == llr.keys()
    assert all(sim[p] == 1.0 - 1.0 / (1.0 + llr[p]) for p in llr)
    assert any(v > 0 for v in llr.values())


def test_rowsim_loglikelihood_column_count_reads_the_pin(spark):
    """Without ``n_cols`` the LLR measure counts distinct columns; that
    action must run on the pinned preprocessing, so one call computes its
    input once. Counting the count before the pin ran the input twice
    (960 rows for 480) and 17 jobs instead of 15 in one job group."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def gen(batches):
        import pandas as pd

        for b in batches:
            seen.add(len(b))
            i = b["id"].to_numpy()
            yield pd.DataFrame({"row_id": i // 8, "col_id": (i * 7919) % 40,
                                "value": (i % 5 + 1).astype(float)})

    triples = spark.range(480, numPartitions=4).mapInPandas(
        gen, "row_id long, col_id long, value double")
    group = "test_rowsim_llr_column_count"
    sc.setJobGroup(group, group)
    try:
        n = row_similarity(triples, "loglikelihood", k=5).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
    assert n > 0
    assert seen.value == 480
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 15


F2_LINES = """u1,purchase,iphone
u1,purchase,ipad
u2,purchase,nexus
u2,purchase,galaxy
u3,purchase,surface
u4,purchase,iphone
u4,purchase,galaxy
u1,view,iphone
u1,view,ipad
u1,view,nexus
u1,view,galaxy
u2,view,iphone
u2,view,ipad
u2,view,nexus
u2,view,galaxy
u3,view,surface
u3,view,nexus
u4,view,iphone
u4,view,ipad
u4,view,galaxy
"""


def test_f2_cli_fixture_goldens(spark):
    """ItemSimilarityDriverSuite: purchase self-similarity + purchase×view

    cross-similarity goldens, via the text reader and row writer."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in.csv")
        with open(src, "w") as f:
            f.write(F2_LINES)
        purchase = read_elements(spark, src, filter_value="purchase")
        view = read_elements(spark, src, filter_value="view")

        itemsim = llr_item_similarity(purchase, k=50,
                                      downsample=False).toPandas()
        sims = {(r.item_a, r.item_b): r.llr for r in itemsim.itertuples()
                if r.llr > 0}
        assert abs(sims[("galaxy", "nexus")] - LLR_A) < 1e-12
        assert abs(sims[("nexus", "galaxy")] - LLR_A) < 1e-12
        assert abs(sims[("ipad", "iphone")] - LLR_A) < 1e-12
        assert abs(sims[("iphone", "ipad")] - LLR_A) < 1e-12
        assert not any(a == "surface" for a, _ in sims)

        cross = llr_cross_similarity(purchase, view, k=50).toPandas()
        xs = {(r.item_a, r.item_b): r.llr for r in cross.itertuples()
              if r.llr > 0}
        assert abs(xs[("surface", "surface")] - LLR_C) < 1e-12
        assert abs(xs[("surface", "nexus")] - LLR_B) < 1e-12
        assert abs(xs[("iphone", "iphone")] - LLR_A) < 1e-12

        # round-trip through the reference text format
        out = os.path.join(tmp, "sims")
        write_rows(spark.createDataFrame(itemsim[itemsim.llr > 0]), out)
        back = read_rows(spark, out).toPandas()
        got = {(r.row_id, r.col_id): r.value for r in back.itertuples()}
        assert abs(got[("galaxy", "nexus")] - LLR_A) < 1e-12
        assert len(got) == len(sims)


def test_f4_rowsim_tanimoto_goldens(spark):
    # M1 (RowSimilarityJobTest.java toyIntegration)
    m1 = np.array([[1, 0, 1, 1, 0],
                   [0, 0, 1, 1, 0],
                   [0, 0, 0, 0, 1]], dtype=float)
    out = row_similarity(drm_parallelize(spark, m1, 2), "tanimoto",
                         k=10, n_cols=5).toPandas()
    sims = {(int(r.row_a), int(r.row_b)): r.sim for r in out.itertuples()}
    assert abs(sims[(0, 1)] - 2.0 / 3.0) < 1e-12
    assert abs(sims[(1, 0)] - 2.0 / 3.0) < 1e-12
    assert (2, 0) not in sims and (2, 1) not in sims  # no shared cols

    # M2 with maxSimilaritiesPerRow=1 (top-1)
    m2 = np.array([[1, 0, 1, 1, 0, 1],
                   [0, 1, 1, 1, 1, 1],
                   [1, 1, 0, 1, 0, 0]], dtype=float)
    out = row_similarity(drm_parallelize(spark, m2, 2), "tanimoto",
                         k=1, n_cols=6).toPandas()
    top = {int(r.row_a): (int(r.row_b), r.sim) for r in out.itertuples()}
    assert top[0] == (1, 0.5)
    assert abs(top[2][1] - 0.4) < 1e-12 and top[2][0] == 0
