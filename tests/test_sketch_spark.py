"""Distributed sketch build/merge/query tests.

The heavy guarantees:
- parity CMS (affine hash family): Spark's distributed two-phase build+merge
  matches the mathematical definition computed by DuckDB SQL **bit-exactly**
  (integral counters → exact float64 everywhere);
- fast CMS: never underestimates; overestimate ≤ eps·N at rate ≥ 1−delta;
- build at different partition counts → byte-identical sketch (merge
  associativity/commutativity end-to-end);
- HLL/t-digest/KLL estimates within published bounds vs exact aggregates.
"""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from mahout_spark.functions.hashutil import md5_long60
from mahout_spark.functions.text import explode_tokens, tokens_array_sql
from mahout_spark.sketch.agg import (bloom_spec, cms_spec, cms_spec_shape,
                                     countsketch_spec_shape, hll_spec,
                                     kll_spec, sketch_by_key, sketch_global,
                                     tdigest_spec)
from mahout_spark.sketch.queries import (bloom_contains_lookup,
                                         cms_pairwise,
                                         cms_pairwise_oracle_sql,
                                         cms_point_lookup,
                                         cms_point_oracle_sql,
                                         countsketch_pairwise, sketch_eval)

DOCS = "/root/testdata/sf0.001/documents.parquet"
TOKSRC = (f"SELECT unnest({tokens_array_sql('text')}) AS token, lang "
          f"FROM '{DOCS}'")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS)


@pytest.fixture(scope="module")
def tokens(docs):
    return explode_tokens(docs.withColumn("__lang", F.col("lang")),
                          "__lang", "text").withColumnRenamed("__lang", "lang")


class TestParityCMSvsDuckDB:
    DEPTH, WIDTH, SEED = 4, 257, 12345

    def test_point_estimates_bitexact(self, spark, tokens):
        spec = cms_spec_shape(self.DEPTH, self.WIDTH, self.SEED, parity=True)
        sk = sketch_by_key(tokens.withColumn("__g", F.lit(0)), ["__g"], spec,
                           key_expr=md5_long60(F.col("token"))).drop("__g")
        probe_sql = (f"SELECT token FROM ({TOKSRC}) GROUP BY token "
                     f"ORDER BY count(*) DESC, token LIMIT 25")
        probes = spark.sql_ctx if False else None  # noqa
        probe_df = (tokens.groupBy("token").count()
                    .orderBy(F.desc("count"), "token").limit(25)
                    .select("token"))
        got = cms_point_lookup(sk, probe_df, md5_long60(F.col("token")))
        gpd = got.toPandas().sort_values("token").reset_index(drop=True)
        want = duckdb.sql(cms_point_oracle_sql(
            TOKSRC, probe_sql, self.DEPTH, self.WIDTH, self.SEED)
        ).fetchdf().sort_values("token").reset_index(drop=True)
        assert (gpd["token"] == want["token"]).all()
        assert (gpd["cms_estimate"].to_numpy()
                == want["cms_estimate"].to_numpy()).all()

    def test_pairwise_cosine_bitexact(self, spark, tokens):
        spec = cms_spec_shape(self.DEPTH, self.WIDTH, self.SEED, parity=True)
        sk = sketch_by_key(tokens, ["lang"], spec,
                           key_expr=md5_long60(F.col("token")))
        got = (cms_pairwise(sk, "lang", kind="cosine").toPandas()
               .sort_values(["a", "b"]).reset_index(drop=True))
        want = duckdb.sql(cms_pairwise_oracle_sql(
            TOKSRC, self.DEPTH, self.WIDTH, self.SEED, group_col="lang")
        ).fetchdf().sort_values(["a", "b"]).reset_index(drop=True)
        assert len(got) == len(want) > 0
        assert (got["a"] == want["a"]).all() and (got["b"] == want["b"]).all()
        assert (got["cms_cosine"].to_numpy()
                == want["cms_cosine"].to_numpy()).all()

    def test_pairwise_inner_bitexact(self, spark, tokens):
        spec = cms_spec_shape(self.DEPTH, self.WIDTH, self.SEED, parity=True)
        sk = sketch_by_key(tokens, ["lang"], spec,
                           key_expr=md5_long60(F.col("token")))
        got = (cms_pairwise(sk, "lang", kind="inner").toPandas()
               .sort_values(["a", "b"]).reset_index(drop=True))
        want = duckdb.sql(cms_pairwise_oracle_sql(
            TOKSRC, self.DEPTH, self.WIDTH, self.SEED, group_col="lang",
            kind="inner")).fetchdf().sort_values(["a", "b"]).reset_index(
            drop=True)
        assert (got["cms_inner"].to_numpy()
                == want["cms_inner"].to_numpy()).all()

    def test_countsketch_pairwise_equals_kernel_inner_product(self, tokens):
        from itertools import combinations

        from mahout_spark.core.countsketch import CountSketch

        spec = countsketch_spec_shape(5, self.WIDTH, self.SEED,
                                      family="parity")
        sk = sketch_by_key(tokens, ["lang"], spec,
                           key_expr=md5_long60(F.col("token"))).cache()
        cs = {r["lang"]: CountSketch.deserialize(bytes(r["sketch"]))
              for r in sk.collect()}
        got = {(r["a"], r["b"]): r["cs_inner"]
               for r in countsketch_pairwise(sk, "lang").collect()}
        sk.unpersist()
        want = {(a, b): cs[a].inner_product(cs[b])
                for a, b in combinations(sorted(cs), 2)}
        assert len(cs) > 1 and got == want


class TestFastCMS:
    def test_error_bound_and_partition_invariance(self, spark, tokens):
        spec = cms_spec(eps=0.005, delta=0.01, seed=3)
        exact = {r["token"]: r["count"] for r in
                 tokens.groupBy("token").count().collect()}
        n_total = sum(exact.values())
        blob8 = sketch_global(tokens.repartition(8), spec, key_col="token")
        blob2 = sketch_global(tokens.repartition(2), spec, key_col="token")
        assert blob8 == blob2  # merge-path invariance, byte-identical

        probe = (tokens.groupBy("token").count()
                 .orderBy(F.desc("count"), "token").limit(200).select("token"))
        sk = spark.createDataFrame([(bytearray(blob8),)], "sketch binary")
        est = cms_point_lookup(sk, probe, F.xxhash64(F.col("token"))).toPandas()
        over = 0
        for tok, e in zip(est["token"], est["cms_estimate"]):
            assert e >= exact[tok] - 1e-9  # never underestimates
            if e > exact[tok] + 0.005 * n_total:
                over += 1
        assert over <= max(1, int(0.01 * len(est)) + 2)

    def test_jvm_bucketed_profiles_equal_python_xxh_build(self, spark,
                                                          docs):
        # cms_per_group_bucketed computes CMS buckets in Catalyst
        # (pmod(xxhash64(key, seed, i), width)); the NumPy 'xxh' family
        # replays the exact same function -> byte-identical sketches
        from mahout_spark.sketch.agg import (cms_per_group_bucketed,
                                             cms_spec_shape,
                                             sketch_per_group)

        toks = explode_tokens(docs, "doc_id", "text")
        head = (toks.groupBy("token").count()
                .orderBy(F.desc("count"), "token").limit(50)
                .select("token"))
        j = toks.join(F.broadcast(head), "token")
        py = {r["token"]: bytes(r["sketch"]) for r in sketch_per_group(
            j, ["token"], cms_spec_shape(4, 64, seed=9, family="xxh"),
            key_col="doc_id").collect()}
        jvm = {r["token"]: bytes(r["sketch"]) for r in
               cms_per_group_bucketed(j, ["token"], 4, 64, 9,
                                      key_col="doc_id").collect()}
        assert py == jvm and len(py) >= 20

    def test_xxh_family_point_estimates_and_serde(self, spark, tokens):
        import numpy as np

        from mahout_spark.core.cms import CountMinSketch

        s = CountMinSketch(depth=5, width=2048, seed=4, family="xxh")
        rng = np.random.default_rng(0)
        keys = rng.integers(-2**62, 2**62, size=5000)
        s.update_batch(keys, 1.0)
        # never underestimates; over by at most eps*N for most keys
        import collections
        exact = collections.Counter(keys.tolist())
        uk = np.fromiter(exact.keys(), dtype=np.int64)
        est = s.point_batch(uk)
        want = np.fromiter((exact[int(k)] for k in uk), dtype=float)
        assert (est >= want - 1e-9).all()
        assert (est <= want + (2.72 / 2048) * 5000 + 1e-9).mean() > 0.98
        back = CountMinSketch.deserialize(s.serialize())
        assert back.family == "xxh" and (back.counts == s.counts).all()
        try:
            s.merge(CountMinSketch(depth=5, width=2048, seed=4))
            assert False, "family mismatch must not merge"
        except ValueError:
            pass

    def test_counts_fed_build_equals_raw_build(self, spark, tokens):
        # the flagship's single-pass shape: a (group, token, count) table
        # feeds the CMS as weights; counts sum associatively so the
        # sketches are byte-identical to the raw-stream build
        spec = cms_spec(eps=0.005, delta=0.01, seed=3)
        raw = {r["lang"]: bytes(r["sketch"]) for r in
               sketch_by_key(tokens, ["lang"], spec, key_col="token",
                             n_salt=8).collect()}
        tl = tokens.groupBy("lang", "token").agg(
            F.count("*").cast("double").alias("cnt"))
        cnt = {r["lang"]: bytes(r["sketch"]) for r in
               sketch_by_key(tl, ["lang"], spec, key_col="token",
                             value_col="cnt", n_salt=8).collect()}
        assert raw == cnt

    def test_merge_sketch_rows_equals_global_rebuild(self, spark, tokens):
        # the mergeability dividend the flagship job relies on: merging the
        # per-lang sketches IS the global sketch, byte-identical — no
        # second build pass over raw tokens needed
        from mahout_spark.sketch.agg import merge_sketch_rows

        spec = cms_spec(eps=0.005, delta=0.01, seed=3)
        per_lang = sketch_by_key(tokens, ["lang"], spec, key_col="token",
                                 n_salt=4)
        merged = bytes(merge_sketch_rows(per_lang, spec)
                       .collect()[0]["sketch"])
        rebuilt = sketch_global(tokens, spec, key_col="token")
        assert merged == rebuilt

    def test_grouped_rollup_equals_direct_coarse_build(self, spark, tokens):
        # fine (lang, parity-of-token-length) sketches rolled up to
        # per-lang via group_cols must be byte-identical to building
        # per-lang directly — the data-cube rollup contract
        from mahout_spark.sketch.agg import merge_sketch_rows

        spec = cms_spec(eps=0.005, delta=0.01, seed=3)
        fine_src = tokens.withColumn("par", F.length("token") % 2)
        fine = sketch_by_key(fine_src, ["lang", "par"], spec,
                             key_col="token")
        rolled = {r["lang"]: bytes(r["sketch"]) for r in
                  merge_sketch_rows(fine, spec, group_cols=["lang"])
                  .collect()}
        direct = {r["lang"]: bytes(r["sketch"]) for r in
                  sketch_by_key(tokens, ["lang"], spec, key_col="token")
                  .collect()}
        assert rolled == direct

    def test_sketch_rollup_all_kinds(self, spark, tokens):
        # rollup contract across every sketch kind: merge-order-
        # INDEPENDENT kinds (theta set-union, HLL register-max, CMS cell
        # addition) must be byte-identical to a direct global build;
        # order-DEPENDENT kinds (KLL, t-digest) must keep their
        # published estimate bounds after the fine->total merge
        from mahout_spark.sketch.agg import (countsketch_spec,
                                             merge_sketch_rows,
                                             sketch_rollup, theta_spec)

        src = tokens.withColumn("par", (F.length("token") % 2)
                                .cast("string"))

        def total_blob(spec, **kw):
            fine = sketch_by_key(src, ["lang", "par"], spec, **kw)
            rows = sketch_rollup(fine, spec, ["lang", "par"]) \
                .filter((F.col("lang") == "*") & (F.col("par") == "*")) \
                .collect()
            assert len(rows) == 1
            return bytes(rows[0]["sketch"]), spec

        for spec, kw in [
                (cms_spec(eps=0.005, delta=0.01, seed=3),
                 dict(key_col="token")),
                (countsketch_spec(eps=0.01, delta=0.05, seed=3),
                 dict(key_col="token")),
                (hll_spec(p=12, seed=1, sparse_limit=0),
                 dict(key_col="token")),
                (theta_spec(k=64),  # theta's key domain is 60-bit
                 dict(key_expr=md5_long60(F.col("token"))))]:
            blob, _ = total_blob(spec, **kw)
            assert blob == sketch_global(src, spec, **kw), spec.kind

        # KLL and t-digest: merged-total quantile estimates stay inside
        # a generous rank-error window of the exact quantile values
        vals = np.sort(np.array(
            [r[0] for r in src.select(F.length("token")).collect()],
            dtype=float))
        n = len(vals)
        src2 = src.withColumn("toklen", F.length("token").cast("double"))
        for spec in (kll_spec(k=200, seed=1), tdigest_spec(100.0)):
            fine = sketch_by_key(src2, ["lang", "par"], spec,
                                 value_col="toklen")
            rows = sketch_rollup(fine, spec, ["lang", "par"]) \
                .filter((F.col("lang") == "*") & (F.col("par") == "*")) \
                .collect()
            assert len(rows) == 1
            s = spec.deserialize(bytes(rows[0]["sketch"]))
            for q in (0.25, 0.5, 0.75):
                est = s.quantile(q)
                lo = vals[max(0, int((q - 0.02) * n) - 1)]
                hi = vals[min(n - 1, int((q + 0.02) * n))]
                assert lo <= est <= hi, (spec.kind, q, est, lo, hi)

    def test_sketch_rollup_levels_equal_direct_builds(self, spark, tokens):
        # every ROLLUP(lang, par) level from the cube operator must be
        # byte-identical to building that level directly from raw data
        from mahout_spark.sketch.agg import sketch_global, sketch_rollup

        spec = cms_spec(eps=0.005, delta=0.01, seed=3)
        src = tokens.withColumn("par", (F.length("token") % 2)
                                .cast("string"))
        fine = sketch_by_key(src, ["lang", "par"], spec, key_col="token")
        cube = {(r["lang"], r["par"]): bytes(r["sketch"]) for r in
                sketch_rollup(fine, spec, ["lang", "par"]).collect()}
        n_fine = fine.count()
        assert len(cube) == n_fine + tokens.select("lang").distinct().count() + 1
        direct_lang = {r["lang"]: bytes(r["sketch"]) for r in
                       sketch_by_key(tokens, ["lang"], spec,
                                     key_col="token").collect()}
        for lang, blob in direct_lang.items():
            assert cube[(lang, "*")] == blob
        assert cube[("*", "*")] == sketch_global(tokens, spec,
                                                 key_col="token")


class TestOtherSketches:
    def test_hll_per_lang_counts(self, spark, tokens):
        sk = sketch_by_key(tokens, ["lang"], hll_spec(p=14, seed=1),
                           key_col="token")
        got = {r["lang"]: r["distinct_est"] for r in
               sketch_eval(sk, hll_spec(p=14, seed=1), "count",
                           "distinct_est").collect()}
        exact = {r["lang"]: r["d"] for r in tokens.groupBy("lang").agg(
            F.countDistinct("token").alias("d")).collect()}
        for lang, d in exact.items():
            rel = abs(got[lang] - d) / max(d, 1)
            assert rel < 0.05, (lang, got[lang], d)

    def test_tdigest_kll_quantiles(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        exact = li.selectExpr(
            "percentile(l_extendedprice, array(0.1, 0.5, 0.9)) as p"
        ).collect()[0]["p"]
        lo = li.selectExpr("min(l_extendedprice) m").collect()[0]["m"]
        hi = li.selectExpr("max(l_extendedprice) m").collect()[0]["m"]
        span = hi - lo
        for spec in [tdigest_spec(100.0), kll_spec(200, seed=5)]:
            sk = spark.createDataFrame(
                [(bytearray(sketch_global(li, spec,
                                          value_col="l_extendedprice")),)],
                "sketch binary")
            for q, want in zip([0.1, 0.5, 0.9], exact):
                got = sketch_eval(sk, spec, "quantile", "qv",
                                  args=(q,)).collect()[0]["qv"]
                assert abs(got - want) / span < 0.02, (spec.kind, q, got, want)

    @pytest.mark.parametrize("builder", ["sketch_by_key",
                                         "sketch_per_group"])
    def test_tdigest_value_dedup_preagg_within_bound(self, spark, builder):
        # the 'value_sum' JVM preagg (duplicate values collapsed, weighted
        # centroid updates) must stay inside the same rank-error envelope
        # as the raw-order build, in both the two-phase and the per-group
        # builder
        from mahout_spark.sketch import agg

        vals = np.concatenate([np.repeat(np.arange(100), 50),
                               np.arange(1000)]).astype(float)
        df = spark.createDataFrame([(float(v),) for v in vals], "v double") \
            .withColumn("g", F.lit(0))
        spec = tdigest_spec(100.0, dedup_values=True)
        sk = getattr(agg, builder)(df, ["g"], spec, value_col="v")
        for q in (0.1, 0.5, 0.9):
            est = sketch_eval(sk, spec, "quantile", "qv",
                              args=(q,)).collect()[0]["qv"]
            exact = float(np.quantile(vals, q))
            span = vals.max() - vals.min()
            assert abs(est - exact) <= 0.02 * span + 1e-9

    def test_hll_tracks_spark_builtin(self, spark, tokens):
        # cross-check vs approx_count_distinct (Spark's own HLL++):
        # both within 5% of exact, hence within ~10% of each other
        sk = sketch_by_key(tokens, ["lang"], hll_spec(p=14, seed=1),
                           key_col="token")
        ours = {r["lang"]: r["est"] for r in
                sketch_eval(sk, hll_spec(p=14, seed=1), "count",
                            "est").collect()}
        spark_est = {r["lang"]: r["e"] for r in tokens.groupBy("lang").agg(
            F.approx_count_distinct("token", 0.02).alias("e")).collect()}
        for lang in ours:
            rel = abs(ours[lang] - spark_est[lang]) / spark_est[lang]
            assert rel < 0.10, (lang, ours[lang], spark_est[lang])

    def test_bloom_no_false_negatives(self, spark, tokens):
        spec = bloom_spec(capacity=20_000, fp_rate=0.01, seed=2)
        blob = sketch_global(tokens, spec, key_col="token")
        sk = spark.createDataFrame([(bytearray(blob),)], "sketch binary")
        probe = tokens.select("token").distinct()
        res = bloom_contains_lookup(sk, probe, F.xxhash64(F.col("token")))
        n_missing = res.filter(~F.col("maybe_contains")).count()
        assert n_missing == 0


@pytest.mark.parametrize("case,family", [
    pytest.param(c, f, id=c if f == "fast" else f"{c}-{f}")
    for f in ("fast", "parity", "xxh")
    for c in ("key_col", "value_col", "key_expr")])
def test_sketch_per_group_skewed_byte_identical(spark, case, family):
    # the skew-hybrid (heavy groups via partitioned partials) must produce
    # byte-identical CMS blobs to the one-task-per-group build and to the
    # two-phase build: one prologue (key hash, value cast, preagg) feeds
    # all three, whatever the key/value arguments
    from mahout_spark.sketch.agg import (sketch_per_group,
                                         sketch_per_group_skewed)

    rng = np.random.default_rng(4)
    # zipfy groups: g0 holds half the rows; integer weights keep every
    # float sum exact under any merge order
    rows = []
    for i in range(4000):
        g = "g0" if i % 2 == 0 else f"g{1 + (i % 7)}"
        rows.append((g, int(rng.integers(0, 500)),
                     float(rng.integers(1, 6))))
    df = spark.createDataFrame(rows, ["grp", "key", "w"]).repartition(8)
    spec = cms_spec_shape(4, 256, seed=3, family=family)
    heavy = spark.createDataFrame([("g0",)], ["grp"])
    kw = {"key_col": dict(key_col="key"),
          "value_col": dict(key_col="key", value_col="w"),
          "key_expr": dict(key_expr=md5_long60(F.col("key").cast("string")))
          }[case]

    def blobs(out):
        return {r["grp"]: bytes(r["sketch"]) for r in out.collect()}

    plain = blobs(sketch_per_group(df, ["grp"], spec, **kw))
    assert len(plain) == 8
    assert blobs(sketch_per_group_skewed(df, ["grp"], spec, heavy,
                                         **kw)) == plain
    assert blobs(sketch_by_key(df, ["grp"], spec, n_salt=1, **kw)) == plain


@pytest.mark.parametrize("builder", ["sketch_by_key", "sketch_per_group",
                                     "sketch_per_group_skewed"])
def test_builders_reject_a_missing_key(spark, builder):
    # a ValueError at plan time, not an assert (stripped by python -O)
    # that resurfaces as a KeyError inside a Python worker
    from mahout_spark.sketch import agg

    df = spark.createDataFrame([("a", 1)], ["grp", "key"])
    args = ([df.select("grp")] if builder == "sketch_per_group_skewed"
            else [])
    with pytest.raises(ValueError, match="cms needs key_col"):
        getattr(agg, builder)(df, ["grp"], cms_spec(), *args)


@pytest.fixture
def tiny_arrow_batches(spark):
    # 7-row Arrow batches: groups straddle batch boundaries, and list
    # columns arrive as slices whose offsets do not start at zero
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("family", ["fast", "parity", "xxh"])
@pytest.mark.parametrize("case", ["key_col", "value_col", "key_expr"])
def test_batched_cms_build_equals_numpy_replay(spark, tiny_arrow_batches,
                                               case, family):
    # the batched build (one scatter-add per Arrow batch for all groups)
    # against CountMinSketch.update_batch per group over the same slim
    # rows, for both builders: a NULL group key gets its own sketch, and
    # the group key may span two columns
    from mahout_spark.core.cms import CountMinSketch
    from mahout_spark.sketch.agg import _slim, sketch_per_group

    rng = np.random.default_rng(11)
    rows = [(None if i % 17 == 0 else f"g{i % 5}",
             None if i % 23 == 0 else int(i % 3),
             int(rng.integers(0, 300)), float(rng.integers(1, 6)))
            for i in range(600)]
    df = spark.createDataFrame(
        rows, "grp string, sub long, key long, w double").repartition(3)
    spec = cms_spec_shape(3, 128, seed=5, family=family)
    kw = {"key_col": dict(key_col="key"),
          "value_col": dict(key_col="key", value_col="w"),
          "key_expr": dict(key_expr=md5_long60(F.col("key").cast("string")))
          }[case]
    gcols = ["grp", "sub"]
    slim = _slim(df, gcols, spec, kw.get("key_col"), kw.get("value_col"),
                 kw.get("key_expr")).toPandas()
    want = {}
    for g, sub in slim.groupby(gcols, dropna=False, sort=False):
        s = CountMinSketch(3, 128, seed=5, family=family)
        # integer weights: every counter sum is exact in any row order
        s.update_batch(sub["__key"].to_numpy(dtype=np.int64),
                       sub["__val"].to_numpy(dtype=np.float64))
        want[tuple(None if v != v else v for v in g)] = s.serialize()
    assert (None, 0) in want and ("g1", None) in want

    def blobs(out):
        got = [((r["grp"], r["sub"]), bytes(r["sketch"]))
               for r in out.collect()]
        assert len(got) == len(dict(got))  # one row per group
        return dict(got)

    assert blobs(sketch_per_group(df, gcols, spec, **kw)) == want
    assert blobs(sketch_by_key(df, gcols, spec, **kw)) == want


@pytest.mark.parametrize("kind", ["cms", "bloom"])
def test_grouped_probe_equals_numpy_replay(spark, tiny_arrow_batches, kind):
    # _probe with join_cols: duplicate probe keys in one group, extra probe
    # columns (NULLs included) and sketch-table columns come back aligned;
    # probes of a group without a sketch, or with a NULL group, are dropped
    from mahout_spark.core.bloom import BloomFilter
    from mahout_spark.core.cms import CountMinSketch

    rng = np.random.default_rng(3)
    sketches = {}
    for g in ("a", "b", "c"):
        keys = rng.integers(0, 50, size=40)
        if kind == "cms":
            s = CountMinSketch(3, 16, seed=2)
            s.update_batch(keys, rng.integers(1, 4, size=40).astype(float))
        else:
            s = BloomFilter.from_capacity(40, 0.3, seed=2)
            s.add_batch(keys)
        sketches[g] = s
    sk = spark.createDataFrame(
        [(g, f"tag-{g}", bytearray(s.serialize()))
         for g, s in sketches.items()],
        "grp string, label string, sketch binary")
    probes = [(("a", "b", "c", "z", None)[i % 5], int(rng.integers(0, 60)),
               None if i % 4 == 0 else f"x{i}", float(i))
              for i in range(60)]
    probes += [("b", 7, "dup", 1.0)] * 3
    probe_df = spark.createDataFrame(
        probes, "grp string, k long, note string, v double").repartition(4)
    lookup, method = ((cms_point_lookup, "point_batch") if kind == "cms"
                      else (bloom_contains_lookup, "contains_batch"))
    out = lookup(sk, probe_df, F.col("k"), join_cols=["grp"],
                 out_col="est")
    assert out.columns == ["grp", "k", "note", "v", "label", "est"]
    want = sorted(
        ((g, k, note, v, f"tag-{g}",
          getattr(sketches[g], method)(np.array([k]))[0].item())
         for g, k, note, v in probes if g in sketches), key=repr)
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == want


def _final_plan(df) -> list[str]:
    """The lines of the adaptive plan Spark actually ran for ``df``."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0].splitlines()


@pytest.mark.parametrize("query", ["cms_pairwise", "countsketch_pairwise"])
def test_pairwise_self_join_broadcasts_the_b_side(spark, query):
    # the pair self-join's build side is pinned: adaptive execution may
    # otherwise broadcast either copy from one run to the next
    spec = (cms_spec_shape(3, 64, seed=1) if query == "cms_pairwise"
            else countsketch_spec_shape(3, 64, seed=1))
    df = spark.createDataFrame([(f"g{i % 6}", i % 40) for i in range(300)],
                               ["grp", "key"])
    sk = sketch_by_key(df, ["grp"], spec, key_col="key")
    pairs = {"cms_pairwise": cms_pairwise,
             "countsketch_pairwise": countsketch_pairwise}[query](sk, "grp")
    plan = _final_plan(pairs)
    join = [ln for ln in plan if "BroadcastNestedLoopJoin" in ln]
    assert len(join) == 1 and "BuildRight" in join[0], plan
    # the broadcast exchange carries the b copy (group b, blob __sb)
    bx = next(i for i, ln in enumerate(plan) if "BroadcastExchange" in ln)
    assert " AS b#" in plan[bx + 1] and " AS __sb#" in plan[bx + 1], plan
