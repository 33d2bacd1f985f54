"""Streaming MinHash-LSH dedup == the batch pipeline, any batching."""

import pytest
from pyspark.sql import functions as F

# pyspark's state serializer concats empty pandas frames (its internals,
# not ours) — pandas deprecation noise, not a signal
pytestmark = pytest.mark.filterwarnings(
    "ignore:The behavior of DataFrame concatenation")

from mahout_spark.operators.dedup import (lsh_candidate_pairs,
                                          minhash_signatures)
from mahout_spark.streaming.dedup import (rowlocal_minhash_sigs,
                                          streaming_minhash_pairs)

DOCS = [
    # two near-dup families + singletons
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again!"),
    (3, "the quick brown fox jumps over the lazy dog once more today"),
    (4, "completely different text about spark structured streaming"),
    (5, "totally unrelated words concerning sketch based deduplication"),
    (6, "the quick brown fox jumps over the lazy dog again and again"),
]
PARAMS = dict(num_perm=16, bands=8, shingle_n=3, seed=1)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_rowlocal_sigs_match_batch(spark, docs):
    # a doc shorter than one shingle has no signature on either path
    docs = docs.union(spark.createDataFrame([(7, "too short")], docs.schema))
    batch = minhash_signatures(docs, "doc_id", "text", num_perm=16,
                               shingle_n=3, seed=1, family="fast")
    row = rowlocal_minhash_sigs(docs, "doc_id", "text", num_perm=16,
                                shingle_n=3, seed=1)
    b = {r["doc_id"]: [r[f"sig_{i}"] for i in range(16)]
         for r in batch.collect()}
    a = {r["doc_id"]: list(r["sigs"]) for r in row.collect()}
    assert a == b


def test_stream_matches_batch_pairs(spark, docs, tmp_path):
    src = str(tmp_path / "src")
    # two separate files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter("doc_id <= 3").coalesce(1).write.parquet(
        src + "/c1")
    docs.filter("doc_id > 3").coalesce(1).write.parquet(
        src + "/c2")
    import glob
    import os
    import shutil

    os.makedirs(src + "/all")
    for i, f in enumerate(sorted(glob.glob(src + "/c*/part-*.parquet"))):
        shutil.copy(f, src + f"/all/{i:02d}.parquet")

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/all"))
    pairs = streaming_minhash_pairs(stream, **PARAMS)
    q = (pairs.writeStream.format("memory").queryName("sd_pairs")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from sd_pairs").collect()
    got_pairs = {(int(r["id_a"]), int(r["id_b"])) for r in got}

    sigs = minhash_signatures(docs, "doc_id", "text", num_perm=16,
                              shingle_n=3, seed=1, family="fast")
    exp = {(r["id_a"], r["id_b"])
           for r in lsh_candidate_pairs(sigs, "doc_id", 16, 8).collect()}
    assert got_pairs == exp
    assert (1, 6) in got_pairs  # exact dups collide
    # est_jaccard == fraction of agreeing components (batch formula)
    b = {r["doc_id"]: [r[f"sig_{i}"] for i in range(16)]
         for r in sigs.collect()}
    for r in got:
        ia, ib = int(r["id_a"]), int(r["id_b"])
        eq = sum(1 for x, y in zip(b[ia], b[ib]) if x == y) / 16.0
        assert r["est_jaccard"] == pytest.approx(eq)


def test_each_pair_once_per_band_and_cross_batch(spark, docs, tmp_path):
    src = str(tmp_path / "src2")
    import os
    os.makedirs(src)
    # doc 1 in batch 1; its exact dup 6 in batch 2 -> cross-batch pair
    docs.filter("doc_id = 1").coalesce(1).write.parquet(src + "/tmp1")
    docs.filter("doc_id = 6").coalesce(1).write.parquet(src + "/tmp2")
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(src + "/tmp*/part-*.parquet"))):
        shutil.copy(f, src + f"/{i:02d}.parquet")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    pairs = streaming_minhash_pairs(stream, **PARAMS)
    q = (pairs.writeStream.format("memory").queryName("sd_pairs2")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from sd_pairs2").collect()
    # identical docs agree on every band: exactly one emission per band
    assert len(got) == PARAMS["bands"]
    assert all((r["id_a"], r["id_b"]) == ("1", "6") for r in got)
    assert all(r["est_jaccard"] == 1.0 for r in got)


def test_rowlocal_parity_family_matches_batch(spark, docs):
    batch = minhash_signatures(docs, "doc_id", "text", num_perm=8,
                               shingle_n=3, seed=1, family="parity")
    row = rowlocal_minhash_sigs(docs, "doc_id", "text", num_perm=8,
                                shingle_n=3, seed=1, family="parity")
    b = {r["doc_id"]: [r[f"sig_{i}"] for i in range(8)]
         for r in batch.collect()}
    a = {r["doc_id"]: list(r["sigs"]) for r in row.collect()}
    assert a == b


@pytest.mark.parametrize("family", ["fast", "parity"])
def test_rowlocal_sigs_build_shingles_once(docs, family):
    """The tokens and the distinct shingle array are projected once, not
    re-derived inside each permutation's transform."""
    def n_distinct(num_perm):
        sigs = rowlocal_minhash_sigs(docs, "doc_id", "text",
                                     num_perm=num_perm, family=family)
        plan = sigs._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("array_distinct(")

    assert n_distinct(4) == n_distinct(16)


@pytest.mark.parametrize("pairs", [
    lambda docs: lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text", num_perm=16),
        "doc_id", num_perm=16, bands=3),
    lambda docs: streaming_minhash_pairs(docs, num_perm=16, bands=3),
], ids=["lsh_candidate_pairs", "streaming_minhash_pairs"])
def test_bands_must_divide_num_perm(docs, pairs):
    # a check that `python -O` keeps: 3 bands of 5 rows would drop sig_15
    with pytest.raises(ValueError, match="must divide"):
        pairs(docs)
