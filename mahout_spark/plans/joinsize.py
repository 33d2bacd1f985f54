"""Sketch-based join-size estimation — the classic AMS application.

``|R JOIN S on R.a = S.b| = <f_a, f_b>`` (the inner product of the two
key-frequency vectors), so the UNBIASED Count-Sketch inner product
(core/countsketch.py) estimates a join's output cardinality from two
independent linear scans — no shuffle of either table, no join executed.
That is the whole point at 100 TB: an AQE-style planner (or a human
deciding between broadcast/shuffle/bucketed strategies) gets

    |est - true| <= eps * ||f_a||_2 * ||f_b||_2,   eps = sqrt(3/width)

w.p. >= 1-delta from two O(d x w) sketches built with map-side-combined
(key, count) partials. The error bound itself is computable FROM the
sketches: the AMS F2 estimator (median of row self-dots) estimates each
side's squared L2 norm.

Reference anchor: the reference has no join estimator (its CMS is a
single-JVM recommender structure, DoubleCountMinSketch.java); this is the
sketch-tier capability the north rule's "approximate-aggregation library"
exists for — sibling to the CMS/HLL/theta gates, verified the same way
(parity hash family, DuckDB replays every counter, estimate hash-exact).

Alternatives and when to prefer them: CMS inner product is biased UP by
collision mass (never under-estimates — safer for capacity planning);
theta sketches give DISTINCT-key overlap, not join cardinality. This
estimator is the unbiased middle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mahout_spark.core.countsketch import CountSketch
from mahout_spark.functions.hashutil import md5_long60_sql
from mahout_spark.sketch.agg import countsketch_spec_shape, sketch_by_key
from mahout_spark.sketch.queries import _blob_pairs, countsketch_bucket_cte


def _side_sketch(df: DataFrame, key: str, spec,
                 key_expr: Column | None, n_salt: int) -> DataFrame:
    return sketch_by_key(df.select(key).withColumn("__g", F.lit(0)),
                         ["__g"], spec,
                         key_col=None if key_expr is not None else key,
                         key_expr=key_expr, n_salt=n_salt).drop("__g")


def join_size_estimate(df_a: DataFrame, key_a: str,
                       df_b: DataFrame, key_b: str,
                       depth: int = 9, width: int = 8192, seed: int = 1,
                       family: str = "fast",
                       key_expr_a: Column | None = None,
                       key_expr_b: Column | None = None,
                       n_salt: int = 8) -> DataFrame:
    """One-row DataFrame: the estimated equi-join output cardinality.

    Columns: ``join_size_est`` (unbiased Count-Sketch inner product),
    ``f2_a``/``f2_b`` (each side's estimated squared L2 key-frequency
    norm) and ``err_bound`` = sqrt(3/width) * sqrt(f2_a * f2_b) — the
    estimate's own a-posteriori error radius.

    Both key columns must hash identically: same type (or pass matching
    ``key_expr_*``, e.g. ``md5_long60`` of a canonical string form for
    the parity family). Plan shape: two independent scans, each reduced
    JVM-side to (key, count) partials; the sketches meet in a single
    broadcast cross-join of two one-row tables.
    """
    spec = countsketch_spec_shape(depth, width, seed, family=family)
    eps = math.sqrt(3.0 / width)
    a = _side_sketch(df_a, key_a, spec, key_expr_a, n_salt) \
        .withColumnRenamed("sketch", "__sa")
    b = _side_sketch(df_b, key_b, spec, key_expr_b, n_salt) \
        .withColumnRenamed("sketch", "__sb")

    def estimate(sa: bytes, sb: bytes) -> tuple:
        ca, cb = CountSketch.deserialize(sa), CountSketch.deserialize(sb)
        f2a, f2b = ca.f2(), cb.f2()
        return (ca.inner_product(cb), f2a, f2b, eps * math.sqrt(f2a * f2b))

    return _blob_pairs(a.crossJoin(F.broadcast(b)), [], estimate,
                       "join_size_est double, f2_a double, f2_b double, "
                       "err_bound double")


def exact_join_size(df_a: DataFrame, key_a: str | Column,
                    df_b: DataFrame, key_b: str | Column) -> DataFrame:
    """One-row (true_size bigint) — the exact inner product of the two

    key-frequency tables: groupBy each side, join the (coarse) frequency
    tables, sum products. This is the scale-sane exact path (it shuffles
    only the distinct keys, never the row pairs) — used as the verifier
    for the estimator's bound, never as the production planner input.
    """
    ka = F.col(key_a) if isinstance(key_a, str) else key_a
    kb = F.col(key_b) if isinstance(key_b, str) else key_b
    fa = df_a.groupBy(ka.alias("k")).agg(F.count("*").alias("ca"))
    fb = df_b.groupBy(kb.alias("k")).agg(F.count("*").alias("cb"))
    return (fa.join(fb, "k")
            .agg(F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
                 .cast("long").alias("true_size")))


def countsketch_join_size_oracle_sql(src_a: str, src_b: str, depth: int,
                                     width: int, seed: int) -> str:
    """DuckDB replay of the full gate row: the parity Count-Sketch built

    from each source's ``token`` column, the median-of-row-dots estimate,
    per-side F2, the a-posteriori bound, the exact join size, and the
    bound check — every value integer-derived (odd depth -> exact-element
    medians; the two sqrt/multiply steps are IEEE-exact per float op),
    hence hash-exact.
    """
    eps = math.sqrt(3.0 / width)
    keyed = (f"SELECT s AS g, k, count(*) AS c FROM ("
             f"SELECT 'a' AS s, {md5_long60_sql('token')} AS k "
             f"FROM ({src_a}) UNION ALL "
             f"SELECT 'b' AS s, {md5_long60_sql('token')} AS k "
             f"FROM ({src_b})) GROUP BY 1, 2")
    return f"""
WITH {countsketch_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
rowdots AS (
  SELECT x.i AS i, sum(x.bc * y.bc) AS dots
  FROM bucketed x JOIN bucketed y ON x.i = y.i AND x.bucket = y.bucket
  WHERE x.g = 'a' AND y.g = 'b'
  GROUP BY 1),
rowvals AS (
  SELECT h.i AS i, coalesce(r.dots, 0.0) AS dots
  FROM hashes h LEFT JOIN rowdots r ON r.i = h.i),
rowself AS (
  SELECT h.i,
         coalesce(sum(CASE WHEN b.g = 'a' THEN b.bc * b.bc END), 0.0) AS sa,
         coalesce(sum(CASE WHEN b.g = 'b' THEN b.bc * b.bc END), 0.0) AS sb
  FROM hashes h LEFT JOIN bucketed b ON b.i = h.i GROUP BY 1),
est AS (
  SELECT (SELECT median(dots) FROM rowvals) AS join_size_est,
         (SELECT median(sa) FROM rowself) AS f2_a,
         (SELECT median(sb) FROM rowself) AS f2_b),
tru AS (
  SELECT coalesce(sum(fa.c * fb.c), 0)::BIGINT AS true_size
  FROM (SELECT token, count(*) AS c FROM ({src_a}) GROUP BY 1) fa
  JOIN (SELECT token, count(*) AS c FROM ({src_b}) GROUP BY 1) fb
    USING (token))
SELECT e.join_size_est, e.f2_a, e.f2_b,
       {eps!r} * sqrt(e.f2_a * e.f2_b) AS err_bound,
       t.true_size,
       (abs(e.join_size_est - t.true_size)
        <= {eps!r} * sqrt(e.f2_a * e.f2_b))::INT AS within_bound
FROM est e, tru t
"""
