"""DataFrame-level queries over sketch tables (binary sketch columns).

The reference answers CMS queries single-JVM (DoubleCountMinSketch.get /
cosine, CosineCM.userSimilarity); here every query is a DataFrame op over a
sketch table produced by ``sketch_by_key``, and each query shape has one
kernel: ``_probe`` (point queries: with join columns each group's probes
are collected into one list row that joins its sketch, so each blob crosses
to Python once and answers its probes in one vectorised call; without, the
sketch table is broadcast and each blob deserialized once per task),
``_blob_pairs`` (a function of two sketches per row; each caller brings its
own join, and the self-joins broadcast their ``b`` side explicitly),
``_sketch_map`` (a function of one sketch per row) and
``_rank_window_check`` (quantile estimates against exact rank windows).

``cms_*_oracle_sql`` builders emit DuckDB SQL computing the *mathematical
definition* of the same estimates (bucket sums under the same affine parity
hash family, HUGEINT arithmetic, md5-derived 60-bit keys). With integral
increments every intermediate is exact in float64, so Spark's distributed
build+merge must match the SQL bit-for-bit — this turns the driver's oracle
gate into a true end-to-end verification of the sketch machinery.
"""

from __future__ import annotations

from itertools import combinations
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mahout_spark.core.cms import CountMinSketch
from mahout_spark.core.hashing import BIG_PRIME, affine_params
from mahout_spark.functions.hashutil import md5_long60, md5_long60_sql
from mahout_spark.sketch.agg import SketchSpec

# ---------------------------------------------------------------------------
# Point lookups: probe rows against a sketch table
# ---------------------------------------------------------------------------


def _probe(sketch_df: DataFrame, probe_df: DataFrame, probe_key: F.Column,
           join_cols: list[str] | None, out_col: str, out_type: str,
           deserializer, method: str) -> DataFrame:
    """The probe kernel under cms_point_lookup and bloom_contains_lookup:
    probe rows + ``deserializer(blob).<method>(keys)`` as ``out_col``
    (``out_type`` 'double' | 'boolean'), one vectorised call per blob.

    With ``join_cols`` each join key's probe rows are collected into one
    list row (``collect_list`` of a struct, so NULLs stay aligned), that
    row joins its sketch once, and the blob crosses to Python once per
    group instead of once per probe row; probes whose group has no
    sketch are dropped. Without, the (small) sketch table is broadcast-
    cross-joined and each distinct blob is deserialized once per task.
    """
    probe = probe_df.withColumn("__key", probe_key.cast("long"))
    dtype = {"double": np.float64, "boolean": np.bool_}[out_type]
    if join_cols:
        return _grouped_probe(sketch_df, probe, join_cols, out_col, dtype,
                              deserializer, method)
    joined = probe.crossJoin(F.broadcast(sketch_df))
    out_fields = [f for f in joined.schema.fields
                  if f.name not in ("__key", "sketch")]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in out_fields) + f", {out_col} {out_type}"
    names = [f.name for f in out_fields]

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[bytes, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            res = np.empty(len(pdf), dtype=dtype)
            for blob, sub in pdf.groupby("sketch", sort=False):
                s = cache.get(bytes(blob))
                if s is None:
                    s = cache[bytes(blob)] = deserializer(bytes(blob))
                res[sub.index.to_numpy()] = getattr(s, method)(
                    sub["__key"].to_numpy(dtype=np.int64))
            out = pdf[names].copy()
            out[out_col] = res
            yield out

    return joined.mapInPandas(lookup, schema=schema)


def _grouped_probe(sketch_df: DataFrame, probe: DataFrame,
                   join_cols: list[str], out_col: str, dtype, deserializer,
                   method: str) -> DataFrame:
    """``_probe`` with ``join_cols``: one list row per join key joins its
    sketch; Python answers each row's keys in one call and flattens the
    lists back to probe rows (join columns, probe columns, sketch-table
    columns, ``out_col`` — the column order of a plain join)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import (BooleanType, DoubleType, StructField,
                                   StructType)

    rest = [c for c in probe.columns if c not in join_cols]
    grouped = probe.groupBy(*join_cols).agg(
        F.collect_list(F.struct(*rest)).alias("__rows"))
    joined = grouped.join(sketch_df, join_cols)
    extra = [f for f in sketch_df.schema.fields
             if f.name not in join_cols and f.name != "sketch"]
    fields = ([joined.schema[c] for c in join_cols]
              + [probe.schema[c] for c in rest if c != "__key"] + extra
              + [StructField(out_col, DoubleType() if dtype == np.float64
                             else BooleanType())])

    def lookup(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if not rb.num_rows:
                continue
            lists = rb.column("__rows")
            rows = lists.flatten()
            keys = rows.field("__key").to_numpy(zero_copy_only=False)
            offs = lists.offsets.to_numpy()
            offs = offs - offs[0]
            res = np.empty(len(rows), dtype=dtype)
            for j, blob in enumerate(rb.column("sketch").to_pylist()):
                lo, hi = offs[j], offs[j + 1]
                res[lo:hi] = getattr(deserializer(blob), method)(keys[lo:hi])
            parent = pc.list_parent_indices(lists)
            cols = ([rb.column(c).take(parent) for c in join_cols]
                    + [rows.field(c) for c in rest if c != "__key"]
                    + [rb.column(f.name).take(parent) for f in extra]
                    + [pa.array(res)])
            yield pa.RecordBatch.from_arrays(
                cols, names=[f.name for f in fields])

    return joined.mapInArrow(lookup, schema=StructType(fields))


def cms_point_lookup(sketch_df: DataFrame, probe_df: DataFrame,
                     probe_key: F.Column, join_cols: list[str] | None = None,
                     out_col: str = "cms_estimate",
                     deserializer=None) -> DataFrame:
    """probe rows + point estimate (CMS min-over-rows by default).

    ``probe_key`` must be the same key expression the sketch was built with.
    With ``join_cols`` the probe joins its group's sketch; without, the
    (single-row) sketch table is broadcast-cross-joined. ``deserializer``
    accepts any kernel exposing ``point_batch`` (e.g.
    ``CountSketch.deserialize`` for unbiased median-over-rows estimates).
    """
    return _probe(sketch_df, probe_df, probe_key, join_cols, out_col,
                  "double", deserializer or CountMinSketch.deserialize,
                  "point_batch")


def _sketch_map(sketch_df: DataFrame, spec: SketchSpec, fn, out_col: str,
                out_type: str) -> DataFrame:
    """Each sketch-table row, its blob replaced by ``fn(sketch)`` as
    ``out_col`` of SQL type ``out_type``."""
    fields = [f for f in sketch_df.schema.fields if f.name != "sketch"]
    parts = [f"{f.name} {f.dataType.simpleString()}" for f in fields]
    schema = ", ".join(parts + [f"{out_col} {out_type}"])
    names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vals = [fn(spec.deserialize(bytes(b))) for b in pdf["sketch"]]
            out = pdf[names].copy()
            out[out_col] = vals
            yield out

    return sketch_df.mapInPandas(run, schema=schema)


def sketch_eval(sketch_df: DataFrame, spec: SketchSpec, method: str,
                out_col: str, args: tuple = ()) -> DataFrame:
    """Generic per-sketch scalar query: adds ``out_col`` double.

    method ∈ {'count' (HLL), 'quantile' (t-digest/KLL, args=(q,)),
    'l1' (CMS), ...} — any zero/low-arity kernel method returning float.
    """
    return _sketch_map(sketch_df, spec,
                       lambda s: float(getattr(s, method)(*args)), out_col,
                       "double")


def bloom_contains_lookup(sketch_df: DataFrame, probe_df: DataFrame,
                          probe_key: F.Column,
                          join_cols: list[str] | None = None,
                          out_col: str = "maybe_contains") -> DataFrame:
    """probe rows + Bloom membership (no false negatives)."""
    from mahout_spark.core.bloom import BloomFilter

    return _probe(sketch_df, probe_df, probe_key, join_cols, out_col,
                  "boolean", BloomFilter.deserialize, "contains_batch")


# ---------------------------------------------------------------------------
# Pairwise queries: all (a, b) group pairs from one sketch table
# ---------------------------------------------------------------------------


def _blob_pairs(joined: DataFrame, keep: list[str], fn,
                schema: str) -> DataFrame:
    """The blob-pair kernel: for each row of ``joined``, the ``keep``
    columns followed by the tuple ``fn(blob_a, blob_b)`` over its ``__sa``
    and ``__sb`` sketch blobs. Output columns fill ``schema`` by position.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pd.DataFrame([fn(bytes(sa), bytes(sb)) for sa, sb
                                 in zip(pdf["__sa"], pdf["__sb"])],
                                index=pdf.index)
            # integer column labels: mapInPandas assigns them by position
            yield pd.concat([pdf[keep], vals], axis=1, ignore_index=True)

    return joined.mapInPandas(run, schema=schema)


def cms_pairwise(sketch_df: DataFrame, group_col: str,
                 kind: str = "cosine", out_col: str | None = None) -> DataFrame:
    """(a, b, value) for every unordered pair of groups, a < b.

    kind='cosine' → DoubleCountMinSketch.cosine semantics (min over depth
    rows of row-cosine); kind='inner' → CMS inner-product estimate. The
    pair fan-out is |groups|²/2 — groups here are coarse (lang, domain
    bucket, user cohort), so the self-join is a broadcast-sized table even
    when the underlying corpus is 10^12 docs.
    """
    out_col = out_col or f"cms_{kind}"
    a = sketch_df.select(F.col(group_col).alias("a"),
                         F.col("sketch").alias("__sa"))
    b = sketch_df.select(F.col(group_col).alias("b"),
                         F.col("sketch").alias("__sb"))
    gtype = sketch_df.schema[group_col].dataType.simpleString()

    def value(sa: bytes, sb: bytes) -> tuple:
        ca, cb = CountMinSketch.deserialize(sa), CountMinSketch.deserialize(sb)
        return (CountMinSketch.cosine(ca, cb) if kind == "cosine"
                else ca.inner_product(cb),)

    return _blob_pairs(a.join(F.broadcast(b), F.col("a") < F.col("b")),
                       ["a", "b"], value,
                       f"a {gtype}, b {gtype}, {out_col} double")


def cms_topk_cosine(sketch_df: DataFrame, group_col: str, k: int = 10,
                    exclude_self: bool = True,
                    block_rows: int | None = None,
                    dtype=np.float32) -> DataFrame:
    """(item, neighbor, cms_cosine) — top-K CMS-cosine neighbors per item.

    The CosineCM flagship (CosineCM.java:84-96 scaled out) as an
    **ABt-style blocked pair join** (reference shape:
    spark/.../blas/ABt.scala:46-170) — fully distributed, nothing ever
    funnels through the driver:

    1. each profile is assigned a deterministic hash block of
       ~``block_rows`` items; one ``applyInPandas`` per block packs the
       normalized (depth, width) float32 matrices into a single binary
       payload (~block_rows x depth x width x 4 bytes, bounded);
    2. block x block pair join; each pair computes its cosine tile with
       one BLAS matmul per depth row (min over depths) and keeps only the
       per-item top-K WITHIN the pair — the shuffle after the tile
       compute carries n_items x n_blocks x K candidate rows, never
       full tiles;
    3. a WindowGroupLimit top-K merges per-pair candidates.

    With one block (head-item regime) this degenerates to a single
    executor task — same BLAS, no pair shuffle, no driver collect. Pair-
    join traffic is O(n_blocks x total_matrix_bytes); for corpora where
    that bites, prefilter candidates with LSH (operators/ann.py) first.

    Ties (bit-equal cosines — common when narrow sketches coincide) break
    deterministically toward the smallest neighbor id, matching
    topk_per_group's tiebreak, so block count never changes the result.
    ``dtype=np.float64`` doubles tile memory but makes the scores agree
    with CountMinSketch.cosine to ulp — use it on oracle-replayed paths.
    """
    from mahout_spark.operators.topk import topk_per_group

    spark = sketch_df.sparkSession
    # pin the sketch table: the block-count probe below is an ACTION, and
    # without the pin it executes the entire upstream sketch-build
    # pipeline once for the probe and again for the real query (measured
    # ~2x the build cost on the flagship bench). The table is one row per
    # group (blob-sized), so the cache is bounded by groups x sketch_bytes.
    # It is never released, and callers rely on that: recommend_cms reads
    # the profiles again after cms_user_similarity(top_n=...), and the
    # ratings_zipf benchmark caches only collected outputs, so without
    # this pin each timed iteration builds user_cms_profiles twice.
    sketch_df = sketch_df.persist()
    n_est = sketch_df.agg(
        F.approx_count_distinct(group_col).alias("n")).first()["n"]
    if block_rows is None:
        # parallelism-aware default: enough blocks that the n_blocks^2
        # tile tasks cover the cluster (~2 tasks/slot), but blocks never
        # thinner than 128 items (BLAS efficiency) nor fatter than 2048
        # (pair-join payload & per-tile memory). A fixed block size would
        # leave small-n inputs as ONE serial pack+tile task — an Amdahl
        # serial fraction that caps whole-job scaling.
        par = spark.sparkContext.defaultParallelism
        want_blocks = max(1, int(round((2.0 * par) ** 0.5)))
        block_rows = min(2048, max(128, -(-int(n_est) // want_blocks)))
    n_blocks = max(1, -(-int(n_est) // block_rows))
    src = sketch_df.select(
        F.col(group_col).alias("id"), "sketch",
        F.pmod(F.xxhash64(F.col(group_col)), F.lit(n_blocks)).alias("__blk"))

    gtype = sketch_df.schema[group_col].dataType.simpleString()
    pack_schema = (f"__blk long, ids array<{gtype}>, mat binary, "
                   f"depth int, width int")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, mats = [], []
        depth = width = None
        for rid, blob in zip(pdf["id"], pdf["sketch"]):
            s = CountMinSketch.deserialize(bytes(blob))
            depth, width = s.depth, s.width
            m = s.counts.astype(dtype)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            mats.append(m / norms)
            ids.append(rid)
        stacked = np.stack(mats)  # (b, depth, width), unit depth-rows
        return pd.DataFrame({"__blk": [pdf["__blk"].iloc[0]], "ids": [ids],
                             "mat": [stacked.tobytes()],
                             "depth": [depth], "width": [width]})

    packed = src.groupBy("__blk").applyInPandas(pack, schema=pack_schema)
    # spread the probe side to one partition per block: AQE coalesces the
    # tiny packed table to 1-2 partitions, which would serialize the
    # n_blocks^2 BLAS tile tasks; only block payloads (bounded:
    # n_items x depth x width x 4B) move, never tiles. Scale-adaptive by
    # construction — n_blocks already tracks cluster parallelism. The
    # broadcast side is pinned to pb: adaptive execution may otherwise
    # broadcast pa and stream pb's 1-2 partitions, running every tile in
    # one or two tasks.
    pa = (packed.select(F.col("__blk").alias("__ba"),
                        F.col("ids").alias("__ia"),
                        F.col("mat").alias("__ma"), "depth", "width")
          .repartition(n_blocks))
    pb = packed.select(F.col("__blk").alias("__bb"),
                       F.col("ids").alias("__ib"), F.col("mat").alias("__mb"))
    pairs = pa.crossJoin(F.broadcast(pb))

    cand_schema = f"item {gtype}, neighbor {gtype}, cms_cosine double"

    def tile_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for ba, ia, ma, depth, width, bb, ib, mb in zip(
                    pdf["__ba"], pdf["__ia"], pdf["__ma"], pdf["depth"],
                    pdf["width"], pdf["__bb"], pdf["__ib"], pdf["__mb"]):
                depth, width = int(depth), int(width)
                ids_a, ids_b = list(ia), list(ib)
                A = np.frombuffer(ma, dtype=dtype).reshape(
                    len(ids_a), depth, width)
                B = np.frombuffer(mb, dtype=dtype).reshape(
                    len(ids_b), depth, width)
                arr_a = np.asarray(ids_a, dtype=object)
                arr_b = np.asarray(ids_b, dtype=object)
                # order tile columns by ascending neighbor id so a stable
                # argsort breaks in-tile score ties the same way the
                # global WindowGroupLimit merge does
                colorder = np.argsort(arr_b, kind="stable")
                arr_b = arr_b[colorder]
                B = B[colorder]
                sims = None
                for d in range(depth):
                    s = A[:, d, :] @ B[:, d, :].T
                    sims = s if sims is None else np.minimum(sims, s)
                same = ba == bb
                if exclude_self and same:
                    row_pos = {rid: j for j, rid in enumerate(arr_b)}
                    for i, rid in enumerate(arr_a):
                        sims[i, row_pos[rid]] = -np.inf
                nb = sims.shape[1]
                kk = min(k, nb - (1 if (exclude_self and same) else 0))
                if kk <= 0:
                    continue
                top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                vals = np.take_along_axis(sims, top, axis=1)
                keep = np.isfinite(vals)
                rows = np.broadcast_to(
                    np.arange(sims.shape[0])[:, None], top.shape)[keep]
                cols = top[keep]
                yield pd.DataFrame({"item": arr_a[rows],
                                    "neighbor": arr_b[cols],
                                    "cms_cosine": vals[keep].astype(float)})

    cand = pairs.mapInPandas(tile_topk, schema=cand_schema)
    return topk_per_group(cand, ["item"], "cms_cosine", k,
                          tiebreak_cols=["neighbor"])


# ---------------------------------------------------------------------------
# DuckDB oracle SQL builders for the parity CMS
# ---------------------------------------------------------------------------


def _hashes_cte(depth: int, seed: int) -> str:
    rows = ", ".join(f"({i}, {a}::HUGEINT, {b}::HUGEINT)"
                     for i, (a, b) in enumerate(affine_params(seed, depth)))
    return f"hashes(i, a, b) AS (SELECT * FROM (VALUES {rows}) v(i, a, b))"


def _bucket_expr(k: str, width: int) -> str:
    return f"((h.a * ({k}) + h.b) % {BIG_PRIME}) % {width}"


def cms_bucket_cte(keyed_cte: str, depth: int, width: int, seed: int,
                   group_by: str = "") -> str:
    """CTE text computing per-(depth-row, bucket) counter sums from a CTE

    ``keyed(k BIGINT, c, ...)`` — the mathematical CMS contents.
    ``group_by``: extra grouping columns (e.g. 'lang, ').
    """
    gsel = f"{group_by} " if group_by else ""
    return (f"{_hashes_cte(depth, seed)}, "
            f"bucketed AS (SELECT {gsel}h.i AS i, "
            f"{_bucket_expr('keyed.k', width)} AS bucket, "
            f"sum(keyed.c)::DOUBLE AS bc "
            f"FROM ({keyed_cte}) keyed CROSS JOIN hashes h "
            f"GROUP BY ALL)")


def cms_point_oracle_sql(token_source_sql: str, probe_sql: str,
                         depth: int, width: int, seed: int,
                         token_col: str = "token",
                         out_col: str = "cms_estimate") -> str:
    """Full DuckDB query: CMS point estimates for probe tokens.

    ``token_source_sql``: SELECT yielding one row per token occurrence with
    column ``token``. ``probe_sql``: SELECT yielding probe rows with column
    ``token`` (must be a subset of occurrences or absent→row bucket sums).
    """
    keyed = (f"SELECT {token_col} AS tok, {md5_long60_sql(token_col)} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    return f"""
WITH {cms_bucket_cte(keyed, depth, width, seed)},
probe AS (SELECT {token_col} AS tok,
                 {md5_long60_sql(token_col)} AS k
          FROM ({probe_sql})),
est AS (
  SELECT probe.tok, min(coalesce(b.bc, 0.0)) AS e
  FROM probe CROSS JOIN hashes h
  LEFT JOIN bucketed b
    ON b.i = h.i AND b.bucket = {_bucket_expr('probe.k', width)}
  GROUP BY probe.tok)
SELECT tok AS {token_col}, e AS {out_col} FROM est
"""


def _rank_window_check(sketch_df: DataFrame, spec: SketchSpec,
                       source_df: DataFrame, group_cols: list[str],
                       value_col: str, qs: list[float], lo_r: F.Column,
                       hi_r: F.Column) -> DataFrame:
    """The rank-window kernel under both bound checks: for each (group, q)
    the exact values at ranks ``lo_r``/``hi_r`` (Columns over ``q`` and the
    group size ``__n``) and whether the sketch's quantile estimate lies
    between them. One pass over the sketch table estimates every q."""
    from pyspark.sql import Window

    qs = [float(q) for q in qs]
    est = (_sketch_map(sketch_df, spec,
                       lambda s: [float(s.quantile(q)) for q in qs],
                       "__ests", "array<double>")
           .select("*", F.posexplode("__ests").alias("__i", "est"))
           .withColumn("q", F.array(*map(F.lit, qs))[F.col("__i")]))
    src = source_df.select(*group_cols,
                           F.col(value_col).cast("double").alias("__v"))
    n_df = src.groupBy(*group_cols).agg(F.count("*").alias("__n"))
    w = Window.partitionBy(*group_cols).orderBy("__v")
    ranked = src.withColumn("__rn", F.row_number().over(w))
    bounds = (n_df.join(est, group_cols)
              .withColumn("__lo_r", lo_r).withColumn("__hi_r", hi_r))
    lo = ranked.select(*group_cols, F.col("__rn").alias("__lo_r"),
                       F.col("__v").alias("lo_val"))
    hi = ranked.select(*group_cols, F.col("__rn").alias("__hi_r"),
                       F.col("__v").alias("hi_val"))
    out = (bounds.join(lo, [*group_cols, "__lo_r"])
           .join(hi, [*group_cols, "__hi_r"]))
    return out.select(
        *group_cols, "q", "lo_val", "hi_val",
        ((F.col("est") >= F.col("lo_val"))
         & (F.col("est") <= F.col("hi_val"))).alias("within"))


def quantile_bound_check(sketch_df: DataFrame, spec: SketchSpec,
                         source_df: DataFrame, group_cols: list[str],
                         value_col: str, qs: list[float],
                         eps: float) -> DataFrame:
    """Gate-verifiable quantile query: for each (group, q) emit the exact

    rank-window values [lo_val, hi_val] (ranks floor((q-eps)*n) and
    ceil((q+eps)*n), clamped to [1, n]) plus ``within`` = whether the
    sketch's quantile estimate lands inside. The rank window is exact SQL
    (so the DuckDB oracle verifies it value-for-value) and ``within``
    verifies the sketch against its published rank-error bound — the
    oracle side emits TRUE, so a sketch regression hash-mismatches.

    The rank window sorts each group (full shuffle + per-group sort) — this
    is a VERIFICATION query run at gate scale, not a production path; the
    production quantile query is ``sketch_eval(..., 'quantile')`` alone.
    """
    q, n = F.col("q"), F.col("__n")
    lo_r = F.greatest(F.lit(1).cast("long"),
                      F.floor((q - F.lit(float(eps))) * n))
    hi_r = F.least(n, F.ceil((q + F.lit(float(eps))) * n))
    return _rank_window_check(sketch_df, spec, source_df, group_cols,
                              value_col, qs, lo_r, hi_r)


def _rank_window_oracle_sql(source_sql: str, group_cols: list[str],
                            value_expr: str, qs: list[float],
                            bounds: str) -> str:
    """DuckDB twin of ``_rank_window_check``: exact rank-window values and
    ``TRUE`` for ``within``. ``bounds`` is the CTE text defining
    ``b(group_cols, q, lo_r, hi_r)`` over ``n`` (group sizes) x ``qs``."""
    gsel = ", ".join(group_cols)
    q_rows = ", ".join(f"({float(q)!r})" for q in qs)
    on_lo = " AND ".join(f"lo.{g} = b.{g}" for g in group_cols)
    on_hi = " AND ".join(f"hi.{g} = b.{g}" for g in group_cols)
    b_g = ", ".join(f"b.{g}" for g in group_cols)
    return f"""
WITH src AS (SELECT {gsel}, ({value_expr})::DOUBLE AS v
             FROM ({source_sql})),
n AS (SELECT {gsel}, count(*) AS n FROM src GROUP BY {gsel}),
ranked AS (SELECT {gsel}, v,
                  row_number() OVER (PARTITION BY {gsel} ORDER BY v) AS rn
           FROM src),
qs(q) AS (SELECT * FROM (VALUES {q_rows}) t(q)),
{bounds}
SELECT {b_g}, b.q, lo.v AS lo_val, hi.v AS hi_val, TRUE AS within
FROM b JOIN ranked lo ON {on_lo} AND lo.rn = b.lo_r
       JOIN ranked hi ON {on_hi} AND hi.rn = b.hi_r
"""


def quantile_bound_oracle_sql(source_sql: str, group_cols: list[str],
                              value_expr: str, qs: list[float],
                              eps: float) -> str:
    """DuckDB twin of ``quantile_bound_check``: exact rank-window values and

    ``TRUE`` for ``within`` (the sketch must land inside its bound)."""
    return _rank_window_oracle_sql(source_sql, group_cols, value_expr, qs, f"""\
b AS (SELECT {", ".join(group_cols)}, q,
             greatest(1, floor((q - {float(eps)!r}) * n)::BIGINT) AS lo_r,
             least(n, ceil((q + {float(eps)!r}) * n)::BIGINT) AS hi_r
      FROM n CROSS JOIN qs)""")


def relative_quantile_bound_check(sketch_df: DataFrame, spec: SketchSpec,
                                  source_df: DataFrame,
                                  group_cols: list[str], value_col: str,
                                  qs: list[float],
                                  rel_eps: float) -> DataFrame:
    """``quantile_bound_check`` with RELATIVE (HRA) rank windows — the
    REQ sketch's contract: at rank r = ceil(q·n) the window half-width is
    d = ceil(rel_eps · (n − r + 1)), i.e. proportional to the distance
    from the TOP, so a p999 probe demands near-exactness while a median
    probe tolerates rel_eps·n/2. Same verification-query caveat as the
    additive version (per-group sort at gate scale only).

    HRA sketches only: an LRA sketch is loose exactly where these
    windows are tight (the guard below rejects it instead of emitting
    spurious gate failures)."""
    if getattr(spec.make(), "hra", True) is False:
        raise ValueError(
            "relative_quantile_bound_check verifies HIGH-rank-accuracy "
            "windows (d = ceil(eps*(n-r+1))); the spec's sketch is "
            "hra=False (low-rank-accurate), whose tight ranks are the "
            "mirror image — verify it against windows of half-width "
            "ceil(eps*r) instead")
    n = F.col("__n")
    r = F.ceil(F.col("q") * n)
    d = F.ceil(F.lit(float(rel_eps)) * (n - r + F.lit(1)))
    lo_r = F.greatest(F.lit(1).cast("long"), (r - d).cast("long"))
    hi_r = F.least(n.cast("long"), (r + d).cast("long"))
    return _rank_window_check(sketch_df, spec, source_df, group_cols,
                              value_col, qs, lo_r, hi_r)


def relative_quantile_bound_oracle_sql(source_sql: str,
                                       group_cols: list[str],
                                       value_expr: str, qs: list[float],
                                       rel_eps: float) -> str:
    """DuckDB twin of ``relative_quantile_bound_check``: exact relative
    rank-window values and ``TRUE`` for ``within``."""
    gsel = ", ".join(group_cols)
    return _rank_window_oracle_sql(source_sql, group_cols, value_expr, qs, f"""\
rd AS (SELECT {gsel}, q, n, ceil(q * n)::BIGINT AS r,
              ceil({float(rel_eps)!r} * (n - ceil(q * n)::BIGINT + 1))::BIGINT
                AS d
       FROM n CROSS JOIN qs),
b AS (SELECT {gsel}, q,
             greatest(1, r - d) AS lo_r,
             least(n, r + d) AS hi_r
      FROM rd)""")


def hll_distinct_oracle_sql(token_source_sql: str, p: int,
                            group_col: str = "lang",
                            token_col: str = "token",
                            out_col: str = "distinct_est",
                            round_dp: int | None = 2,
                            group_exprs: list[tuple[str, str]] | None = None
                            ) -> str:
    """DuckDB query replaying the parity-HLL estimate per group.

    Mirrors HyperLogLog(parity=True) exactly: 60-bit md5 keys, index = top
    ``p`` bits, rank = leading zeros of the low ``60-p`` bits + 1,
    sum(2^-M) as an exact HUGEINT sum scaled once to DOUBLE, then the
    alpha_m*m^2/sum estimate with the linear-counting branch. Bit-identical
    to the kernel because every float op is a single deterministic IEEE
    rounding of exact integer inputs (ln() is the one libm call, shared).

    ``group_exprs``: list of (sql_expr, out_name) pairs overriding the
    single ``group_col`` — constants ('\\'*\\'') express rollup levels.
    """
    from mahout_spark.core.hll import _alpha

    gx = group_exprs or [(group_col, group_col)]
    gsel = ", ".join(f"{expr} AS __g{i}" for i, (expr, _) in enumerate(gx))
    gnames = ", ".join(f"__g{i}" for i in range(len(gx)))
    gout = ", ".join(f"__g{i} AS {name}" for i, (_, name) in enumerate(gx))
    bits = 60
    m = 1 << p
    rmax = bits - p + 1
    rest_mod = 1 << (bits - p)
    am2 = _alpha(m) * float(m) * float(m)
    pow2_rows = ", ".join(f"({v}, {1 << v}::HUGEINT)" for v in range(rmax + 1))
    return f"""
WITH keyed AS (SELECT DISTINCT {gsel},
                      {md5_long60_sql(token_col)} AS k
               FROM ({token_source_sql})),
pow2(v, w) AS (SELECT * FROM (VALUES {pow2_rows}) t(v, w)),
regs AS (SELECT {gnames}, k // {rest_mod} AS idx,
                max(CASE WHEN (k % {rest_mod}) = 0 THEN {bits - p + 1}
                    ELSE {bits - p} - length(bin(k % {rest_mod})) + 1
                    END) AS reg
         FROM keyed GROUP BY ALL),
agg AS (SELECT {gnames}, count(*) AS nreg, sum(pow2.w) AS s_present
        FROM regs JOIN pow2 ON pow2.v = {rmax} - regs.reg GROUP BY ALL),
summed AS (SELECT {gnames}, ({m} - nreg) AS zeros,
                  (s_present
                   + ({m} - nreg)::HUGEINT * {1 << rmax}::HUGEINT)::DOUBLE
                  / {float(1 << rmax)!r} AS sumexp
           FROM agg),
vals AS (SELECT {gnames}, zeros, {am2!r} / sumexp AS e FROM summed),
raw AS (SELECT {gnames}, zeros,
               CASE WHEN e <= {2.5 * m!r} AND zeros > 0
                    THEN {m} * ln({m} / zeros::DOUBLE) ELSE e END AS e
        FROM vals)
SELECT {gout},
       {f'round(e, {round_dp})' if round_dp is not None else 'e'}
       AS {out_col}
FROM raw
"""


def bloom_filter_count_oracle_sql(token_source_sql: str, head_n: int,
                                  capacity: int, fp_rate: float, seed: int,
                                  group_col: str = "lang",
                                  token_col: str = "token") -> str:
    """DuckDB query replaying the parity-Bloom token filter: build the bit

    set from the head-``head_n`` allowlist under the affine probe family,
    then count surviving token OCCURRENCES per group (false positives and
    all — the oracle reproduces the sketch's decisions, not ground truth).
    """
    from mahout_spark.core.bloom import bloom_geometry

    m, k = bloom_geometry(capacity, fp_rate)
    return f"""
WITH tok AS (SELECT {group_col} AS g, {token_col} AS t
             FROM ({token_source_sql})),
head AS (SELECT t FROM tok GROUP BY t
         ORDER BY count(*) DESC, t LIMIT {head_n}),
{_hashes_cte(k, seed)},
bits AS (SELECT DISTINCT h.i,
                ((h.a * {md5_long60_sql('head.t')} + h.b) % {BIG_PRIME})
                % {m} AS pos
         FROM head CROSS JOIN hashes h),
toks AS (SELECT g, t, count(*) AS c, {md5_long60_sql('t')} AS k
         FROM tok GROUP BY 1, 2),
checks AS (SELECT toks.g, toks.t, toks.c, count(*) AS n_hit
           FROM toks CROSS JOIN hashes h
           JOIN bits b ON b.i = h.i
            AND b.pos = ((h.a * toks.k + h.b) % {BIG_PRIME}) % {m}
           GROUP BY 1, 2, 3)
SELECT g AS {group_col}, sum(c)::BIGINT AS n_kept
FROM checks WHERE n_hit = {k} GROUP BY g
"""


# row-cosine of one depth row i: dots / (||a_i|| * ||b_i||), NULL at zero norm
_COSINE_SQL = ("CASE WHEN sqrt(v.na) * sqrt(v.nb) > 0 "
               "THEN v.dots / (sqrt(v.na) * sqrt(v.nb)) END")


def cms_pairwise_oracle_sql(token_source_sql: str, depth: int, width: int,
                            seed: int, group_col: str = "lang",
                            kind: str = "cosine",
                            out_col: str | None = None) -> str:
    """DuckDB query: pairwise CMS cosine/inner-product between group sketches.

    Mirrors DoubleCountMinSketch.cosine: per depth row i,
    cos_i = Σ(bcA·bcB) / (sqrt(Σ bcA²) · sqrt(Σ bcB²)); result = min over
    rows with nonzero denominator. All bucket sums are integral → exact.
    """
    out_col = out_col or f"cms_{kind}"
    keyed = (f"SELECT {group_col} AS g, {md5_long60_sql('token')} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    value = _COSINE_SQL if kind == "cosine" else "v.dots"
    return f"""
WITH {cms_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
grps AS (SELECT DISTINCT g FROM bucketed),
pairs AS (SELECT x.g AS a, y.g AS b FROM grps x JOIN grps y ON x.g < y.g),
rownorm AS (SELECT g, i, sum(bc * bc) AS nn FROM bucketed GROUP BY 1, 2),
rowdots AS (
  SELECT x.g AS a, y.g AS b, x.i AS i, sum(x.bc * y.bc) AS dots
  FROM bucketed x JOIN bucketed y
    ON x.i = y.i AND x.bucket = y.bucket AND x.g < y.g
  GROUP BY ALL),
vals AS (
  SELECT p.a, p.b, h.i, coalesce(d.dots, 0.0) AS dots, na.nn AS na, nb.nn AS nb
  FROM pairs p CROSS JOIN hashes h
  LEFT JOIN rowdots d ON d.a = p.a AND d.b = p.b AND d.i = h.i
  JOIN rownorm na ON na.g = p.a AND na.i = h.i
  JOIN rownorm nb ON nb.g = p.b AND nb.i = h.i)
SELECT a, b, min({value}) AS {out_col}
FROM vals v GROUP BY a, b
"""


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + one exact-verify scan
# ---------------------------------------------------------------------------


def heavy_hitters(df: DataFrame, key_col: str, threshold_frac: float,
                  eps: float | None = None,
                  value_col: str | None = None) -> DataFrame:
    """EXACT keys with total weight > threshold_frac * N, found at sketch
    cost: one MG build (JVM preagg + salted two-phase merge), then one
    scan with a pushed-down isin filter over the <= 1/eps candidate
    hashes and a tiny exact groupBy. MG's bounded undercount guarantees
    candidate completeness (core/spacesaving.py), and the verify join
    makes the OUTPUT exact and order/partitioning-independent — this is
    the production heavy-hitter pattern at 10^12 tokens, where the full
    (key, count) table would itself be a giant shuffle.

    Returns (key_col, n | weight) filtered by strict >."""
    from ..core.spacesaving import MisraGries
    from .agg import _sketch_key, mg_spec, sketch_global

    if eps is None:
        eps = threshold_frac / 2.0
    if eps >= threshold_frac:
        raise ValueError("eps must be < threshold_frac for completeness")
    blob = sketch_global(df, mg_spec(eps), key_col=key_col,
                         value_col=value_col)
    mg = MisraGries.deserialize(blob)
    n_total = mg.n_total
    cand = mg.candidates(threshold_frac * n_total)

    hash_expr = _sketch_key(df, key_col)
    agg = (F.sum(F.col(value_col).cast("double")).alias("weight")
           if value_col else F.count("*").alias("n"))
    out_col = "weight" if value_col else "n"
    exact = (df.filter(hash_expr.isin([int(c) for c in cand]))
             .groupBy(key_col).agg(agg))
    return exact.filter(F.col(out_col) > threshold_frac * n_total)


def heavy_hitters_oracle_sql(keyed_source_sql: str, key: str,
                             threshold_frac: float,
                             weight: str | None = None) -> str:
    """DuckDB twin: plain GROUP BY + HAVING over the same strict
    threshold (the verify join makes the Spark output exact, so the
    oracle needs no sketch replay)."""
    agg = f"sum(({weight})::DOUBLE)" if weight else "count(*)"
    out = "weight" if weight else "n"
    return f"""
WITH __hh_src AS ({keyed_source_sql}),
__hh_tot AS (SELECT {agg} AS total FROM __hh_src)
SELECT {key}, {agg} AS {out}
FROM __hh_src, __hh_tot
GROUP BY {key}, total
HAVING {agg} > {threshold_frac!r} * total
"""


def theta_group_overlap(df: DataFrame, group_col: str, key_col: str,
                        k: int = 64) -> DataFrame:
    """Pairwise SET analytics between groups from one theta-sketch pass
    (core/theta.py): for every unordered group pair (a < b) the
    distinct-count estimates of a, b, their union and intersection plus
    the derived Jaccard. ONE distributed build (JVM md5 hashing +
    distinct preagg + mapInPandas partials + per-group merge); the
    pairwise stage runs driver-side over the n_groups retained-hash
    sets — k * n_groups longs, a bounded driver aggregate like every
    model collect in this repo. Keys are md5_long60-hashed, so a DuckDB
    ORDER BY hash LIMIT k oracle replays the whole thing bit-exact
    (theta state is merge-order independent).

    Returns (group_a, group_b, est_a, est_b, est_union, rho,
    est_intersection, jaccard, est_a_not_b, est_b_not_a) — rho =
    retained common hashes under the joint knowledge horizon; the
    a-not-b estimates are the DataSketches set-difference rule (same
    horizon argument as the intersection)."""
    from ..core.theta import ThetaSketch
    from .agg import sketch_by_key, theta_spec

    spec = theta_spec(k=k)
    # keys hash as strings, as the oracle's ::VARCHAR cast does
    sk = sketch_by_key(df, [group_col], spec,
                       key_expr=md5_long60(F.col(key_col).cast("string")))
    blobs = {r[group_col]: ThetaSketch.deserialize(bytes(r["sketch"]))
             for r in sk.collect()}
    rows = []
    for ga, gb in combinations(sorted(blobs), 2):
        a, b = blobs[ga], blobs[gb]
        rho, _ = a.intersection_count(b)
        rows.append((ga, gb, a.estimate(), b.estimate(),
                     a.union(b).estimate(), rho,
                     a.intersection_estimate(b), a.jaccard(b),
                     a.a_not_b_estimate(b), b.a_not_b_estimate(a)))
    return df.sparkSession.createDataFrame(
        rows, f"group_a string, group_b string, est_a double, "
              f"est_b double, est_union double, rho long, "
              f"est_intersection double, jaccard double, "
              f"est_a_not_b double, est_b_not_a double")


def theta_overlap_oracle_sql(keyed_source_sql: str, group: str, key: str,
                             k: int = 64,
                             domain: int = 1 << 60) -> str:
    """DuckDB replay of theta_group_overlap: bottom-k distinct
    md5_long60 hashes per group (ORDER BY hash LIMIT k via a window
    rank), then the identical KMV estimators — multiplication-first
    float arithmetic mirrors core/theta.py exactly."""
    est = (f"CASE WHEN n_ret < {k} THEN n_ret::DOUBLE "
           f"ELSE ({k - 1}::DOUBLE * {domain}) / kth::DOUBLE END")
    est_union = est.replace("n_ret", "u.n_ret").replace("kth", "u.kth")

    def joint(t: str) -> str:
        """Retained count ``t.rho`` scaled by the pair's joint horizon."""
        return (f"CASE WHEN least(sa.theta, sb.theta) >= {domain} "
                f"THEN coalesce({t}.rho, 0)::DOUBLE "
                f"ELSE (coalesce({t}.rho, 0)::DOUBLE * {domain}) "
                f"/ least(sa.theta, sb.theta)::DOUBLE END")

    return f"""
WITH __th_src AS ({keyed_source_sql}),
__th_h AS (
  SELECT DISTINCT {group} AS g, {md5_long60_sql(key)} AS h FROM __th_src
),
__th_ret AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rnk
    FROM __th_h) WHERE rnk <= {k}
),
__th_stat AS (
  SELECT g, count(*) AS n_ret, max(h) AS kth,
         CASE WHEN count(*) < {k} THEN {domain} ELSE max(h) END AS theta,
         {est} AS est
  FROM __th_ret GROUP BY g
),
__th_pairs AS (
  SELECT a.g AS ga, b.g AS gb FROM __th_stat a, __th_stat b WHERE a.g < b.g
),
__th_union AS (
  SELECT p.ga, p.gb, count(*) AS n_ret, max(u.h) AS kth
  FROM __th_pairs p, LATERAL (
    SELECT h FROM (
      SELECT DISTINCT r.h FROM __th_ret r
      WHERE r.g = p.ga OR r.g = p.gb) ORDER BY h LIMIT {k}) u
  GROUP BY p.ga, p.gb
),
__th_rho AS (
  SELECT p.ga, p.gb, count(*) AS rho
  FROM __th_pairs p
  LEFT JOIN __th_ret ra ON ra.g = p.ga
  JOIN __th_ret rb ON rb.g = p.gb AND rb.h = ra.h
  JOIN __th_stat sa ON sa.g = p.ga
  JOIN __th_stat sb ON sb.g = p.gb
  WHERE ra.h <= least(sa.theta, sb.theta)
  GROUP BY p.ga, p.gb
),
__th_anb AS (
  SELECT p.ga, p.gb, count(*) AS rho
  FROM __th_pairs p
  JOIN __th_ret ra ON ra.g = p.ga
  LEFT JOIN __th_ret rb ON rb.g = p.gb AND rb.h = ra.h
  JOIN __th_stat sa ON sa.g = p.ga
  JOIN __th_stat sb ON sb.g = p.gb
  WHERE ra.h <= least(sa.theta, sb.theta) AND rb.h IS NULL
  GROUP BY p.ga, p.gb
),
__th_bna AS (
  SELECT p.ga, p.gb, count(*) AS rho
  FROM __th_pairs p
  JOIN __th_ret rb ON rb.g = p.gb
  LEFT JOIN __th_ret ra ON ra.g = p.ga AND ra.h = rb.h
  JOIN __th_stat sa ON sa.g = p.ga
  JOIN __th_stat sb ON sb.g = p.gb
  WHERE rb.h <= least(sa.theta, sb.theta) AND ra.h IS NULL
  GROUP BY p.ga, p.gb
)
SELECT p.ga AS group_a, p.gb AS group_b,
       sa.est AS est_a, sb.est AS est_b,
       ({est_union}) AS est_union,
       coalesce(r.rho, 0)::BIGINT AS rho,
       {joint('r')} AS est_intersection,
       CASE WHEN ({est_union}) = 0 THEN 0.0
            ELSE ({joint('r')}) / ({est_union}) END AS jaccard,
       {joint('na')} AS est_a_not_b,
       {joint('nb')} AS est_b_not_a
FROM __th_pairs p
JOIN __th_stat sa ON sa.g = p.ga
JOIN __th_stat sb ON sb.g = p.gb
JOIN __th_union u ON u.ga = p.ga AND u.gb = p.gb
LEFT JOIN __th_rho r ON r.ga = p.ga AND r.gb = p.gb
LEFT JOIN __th_anb na ON na.ga = p.ga AND na.gb = p.gb
LEFT JOIN __th_bna nb ON nb.ga = p.ga AND nb.gb = p.gb
"""


# ---------------------------------------------------------------------------
# Count-Sketch (signed/AMS) queries + DuckDB oracle builders
# ---------------------------------------------------------------------------


def countsketch_pairwise(sketch_df: DataFrame, group_col: str,
                         out_col: str = "cs_inner") -> DataFrame:
    """(a, b, cs_inner) for every unordered group pair — the UNBIASED

    Count-Sketch inner-product estimate (median over depth rows of the
    row dot; core/countsketch.py). Group fan-out as in cms_pairwise:
    groups are coarse, the pair table is broadcast-sized.
    """
    from mahout_spark.core.countsketch import CountSketch

    a = sketch_df.select(F.col(group_col).alias("a"),
                         F.col("sketch").alias("__sa"))
    b = sketch_df.select(F.col(group_col).alias("b"),
                         F.col("sketch").alias("__sb"))
    gtype = sketch_df.schema[group_col].dataType.simpleString()

    def inner(sa: bytes, sb: bytes) -> tuple:
        return (CountSketch.deserialize(sa).inner_product(
            CountSketch.deserialize(sb)),)

    return _blob_pairs(a.join(F.broadcast(b), F.col("a") < F.col("b")),
                       ["a", "b"], inner,
                       f"a {gtype}, b {gtype}, {out_col} double")


def _cs_hashes_cte(depth: int, seed: int) -> str:
    """hashes(i, a, b, sa, sb): bucket AND sign affine params per row."""
    from mahout_spark.core.countsketch import SIGN_SEED_OFFSET

    bp = affine_params(seed, depth)
    sp = affine_params(seed + SIGN_SEED_OFFSET, depth)
    rows = ", ".join(
        f"({i}, {a}::HUGEINT, {b}::HUGEINT, {sa}::HUGEINT, {sb}::HUGEINT)"
        for i, ((a, b), (sa, sb)) in enumerate(zip(bp, sp)))
    return (f"hashes(i, a, b, sa, sb) AS "
            f"(SELECT * FROM (VALUES {rows}) v(i, a, b, sa, sb))")


def _cs_sign_expr(k: str) -> str:
    return f"(1 - 2 * (((h.sa * ({k}) + h.sb) % {BIG_PRIME}) % 2))"


def countsketch_bucket_cte(keyed_cte: str, depth: int, width: int, seed: int,
                           group_by: str = "") -> str:
    """CTE text: signed per-(row, bucket) counter sums — the mathematical

    Count-Sketch contents under the parity (affine) bucket+sign families.
    ``keyed(k BIGINT, c, ...)`` as in cms_bucket_cte.
    """
    gsel = f"{group_by} " if group_by else ""
    return (f"{_cs_hashes_cte(depth, seed)}, "
            f"bucketed AS (SELECT {gsel}h.i AS i, "
            f"{_bucket_expr('keyed.k', width)} AS bucket, "
            f"sum(keyed.c * {_cs_sign_expr('keyed.k')})::DOUBLE AS bc "
            f"FROM ({keyed_cte}) keyed CROSS JOIN hashes h "
            f"GROUP BY ALL)")


def countsketch_point_oracle_sql(token_source_sql: str, probe_sql: str,
                                 depth: int, width: int, seed: int,
                                 token_col: str = "token",
                                 out_col: str = "cs_estimate") -> str:
    """DuckDB query: Count-Sketch point estimates (median over rows of

    sign * counter) for probe tokens. Use odd ``depth`` so the median is
    an exact element (no midpoint averaging) — then integral counters
    make the result hash-exact.
    """
    keyed = (f"SELECT {token_col} AS tok, {md5_long60_sql(token_col)} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    return f"""
WITH {countsketch_bucket_cte(keyed, depth, width, seed)},
probe AS (SELECT {token_col} AS tok,
                 {md5_long60_sql(token_col)} AS k FROM ({probe_sql})),
vals AS (SELECT probe.tok, h.i,
                {_cs_sign_expr('probe.k')} * coalesce(b.bc, 0.0) AS v
         FROM probe CROSS JOIN hashes h
         LEFT JOIN bucketed b
           ON b.i = h.i AND b.bucket = {_bucket_expr('probe.k', width)})
SELECT tok AS {token_col}, median(v) AS {out_col}
FROM vals GROUP BY tok
"""


def countsketch_pairwise_oracle_sql(token_source_sql: str, depth: int,
                                    width: int, seed: int,
                                    group_col: str = "lang",
                                    out_col: str = "cs_inner") -> str:
    """DuckDB query: pairwise Count-Sketch inner products between group

    sketches — median over depth rows of the signed-counter row dot.
    """
    keyed = (f"SELECT {group_col} AS g, {md5_long60_sql('token')} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    return f"""
WITH {countsketch_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
grps AS (SELECT DISTINCT g FROM bucketed),
pairs AS (SELECT x.g AS a, y.g AS b FROM grps x JOIN grps y ON x.g < y.g),
rowdots AS (
  SELECT x.g AS a, y.g AS b, x.i AS i, sum(x.bc * y.bc) AS dots
  FROM bucketed x JOIN bucketed y
    ON x.i = y.i AND x.bucket = y.bucket AND x.g < y.g
  GROUP BY ALL),
vals AS (
  SELECT p.a, p.b, h.i, coalesce(d.dots, 0.0) AS dots
  FROM pairs p CROSS JOIN hashes h
  LEFT JOIN rowdots d ON d.a = p.a AND d.b = p.b AND d.i = h.i)
SELECT a, b, median(dots) AS {out_col}
FROM vals GROUP BY a, b
"""


# ---------------------------------------------------------------------------
# Privacy-noised sketch release (core/privacy.py) + oracle builders
# ---------------------------------------------------------------------------


def noised_sketch_rows(sketch_df: DataFrame, group_cols: list[str],
                       thresholds: list[int], noise_seed: int,
                       deserializer=None) -> DataFrame:
    """Release a linear-sketch table with deterministic two-sided-

    geometric noise added to every counter (core/privacy.py). The noise
    for the sketch tagged by its group values is a pure function of
    (noise_seed, tag, cell), so the release is retry-stable and the
    DuckDB oracle replays it exactly. Schema is unchanged — all existing
    query machinery (cms_point_lookup, cms_pairwise) runs on the noised
    table as-is. Map-only: no shuffle is added to the plan.

    ``deserializer``: any kernel with a (depth, width) float64 ``counts``
    matrix — CountMinSketch (default) or CountSketch (the mechanism is
    the same for any linear sketch; for the signed sketch the DP
    accounting per item is still depth cells of ±1 sensitivity each).
    """
    from mahout_spark.core.privacy import cell_noise

    deserializer = deserializer or CountMinSketch.deserialize
    names = [f.name for f in sketch_df.schema.fields]
    schema = sketch_df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            blobs = []
            for _, row in pdf.iterrows():
                s = deserializer(bytes(row["sketch"]))
                tag = ":".join(str(row[c]) for c in group_cols)
                s.counts += cell_noise(s.depth, s.width, noise_seed, tag,
                                       thresholds)
                blobs.append(s.serialize())
            out = pdf[names].copy()
            out["sketch"] = blobs
            yield out

    return sketch_df.mapInPandas(run, schema=schema)


def cms_point_noised_oracle_sql(token_source_sql: str, probe_sql: str,
                                depth: int, width: int, seed: int,
                                thresholds: list[int], noise_seed: int,
                                token_col: str = "token",
                                out_col: str = "cms_estimate") -> str:
    """DuckDB query: point estimates against the NOISED global CMS —

    min over depth rows of (bucket sum + geometric noise). Only probed
    cells need noising (the min never sees the others).
    """
    from mahout_spark.core.privacy import (geometric_noise_sql, noise_u_sql)

    keyed = (f"SELECT {token_col} AS tok, {md5_long60_sql(token_col)} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    noise = geometric_noise_sql(
        noise_u_sql(noise_seed, "''", "cells.i", "cells.bucket"), thresholds)
    return f"""
WITH {cms_bucket_cte(keyed, depth, width, seed)},
probe AS (SELECT {token_col} AS tok,
                 {md5_long60_sql(token_col)} AS k FROM ({probe_sql})),
cells AS (SELECT probe.tok, h.i AS i,
                 {_bucket_expr('probe.k', width)} AS bucket
          FROM probe CROSS JOIN hashes h),
vals AS (SELECT cells.tok,
                coalesce(b.bc, 0.0) + {noise} AS v
         FROM cells LEFT JOIN bucketed b
           ON b.i = cells.i AND b.bucket = cells.bucket)
SELECT tok AS {token_col}, min(v) AS {out_col}
FROM vals GROUP BY tok
"""


def cms_pairwise_noised_oracle_sql(token_source_sql: str, depth: int,
                                   width: int, seed: int,
                                   thresholds: list[int], noise_seed: int,
                                   group_col: str = "lang",
                                   kind: str = "inner",
                                   out_col: str | None = None) -> str:
    """DuckDB query: pairwise CMS inner/cosine between NOISED group

    sketches. Unlike the probe-only point oracle, dots touch every cell,
    so the oracle expands each group's counters to the FULL depth x width
    grid and noises all of it (group count is coarse — the grid is tiny).
    """
    from mahout_spark.core.privacy import (geometric_noise_sql, noise_u_sql)

    out_col = out_col or f"cms_{kind}_noised"
    keyed = (f"SELECT {group_col} AS g, {md5_long60_sql('token')} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    noise = geometric_noise_sql(
        noise_u_sql(noise_seed, "grid.g", "grid.i", "grid.bucket"),
        thresholds)
    if kind == "cosine":
        value = _COSINE_SQL
        norm_cte = (", rownorm AS (SELECT g, i, sum(nc * nc) AS nn "
                    "FROM noised GROUP BY 1, 2)")
        vals = """
vals AS (
  SELECT d.a, d.b, d.i, d.dots, na.nn AS na, nb.nn AS nb
  FROM rowdots d
  JOIN rownorm na ON na.g = d.a AND na.i = d.i
  JOIN rownorm nb ON nb.g = d.b AND nb.i = d.i)"""
    else:
        value = "v.dots"
        norm_cte = ""
        vals = "vals AS (SELECT a, b, i, dots FROM rowdots)"
    return f"""
WITH {cms_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
grps AS (SELECT DISTINCT g FROM bucketed),
grid AS (SELECT grps.g, h.i AS i, r.bucket
         FROM grps CROSS JOIN hashes h
         CROSS JOIN range({width}) r(bucket)),
noised AS (SELECT grid.g, grid.i, grid.bucket,
                  coalesce(b.bc, 0.0) + {noise} AS nc
           FROM grid LEFT JOIN bucketed b
             ON b.g = grid.g AND b.i = grid.i AND b.bucket = grid.bucket)
{norm_cte},
rowdots AS (
  SELECT x.g AS a, y.g AS b, x.i AS i, sum(x.nc * y.nc) AS dots
  FROM noised x JOIN noised y
    ON x.i = y.i AND x.bucket = y.bucket AND x.g < y.g
  GROUP BY ALL),
{vals}
SELECT a, b, min({value}) AS {out_col}
FROM vals v GROUP BY a, b
"""


def cms_point_grouped_oracle_sql(token_source_sql: str, depth: int,
                                 width: int, seed: int,
                                 group_col: str = "w_start",
                                 token_col: str = "token",
                                 out_col: str = "cms_estimate",
                                 probe_sql: str | None = None) -> str:
    """DuckDB query: per-GROUP parity-CMS point estimates for every

    distinct (group, token) pair in the source — the oracle for windowed
    / grouped CMS builds (one sketch per event-time window, probe joined
    on the window). ``probe_sql`` (columns ``group_col, token_col``)
    restricts the probe set — the rollup gate probes only the per-group
    head tokens instead of the full vocabulary.
    """
    keyed = (f"SELECT {group_col} AS g, {md5_long60_sql(token_col)} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) GROUP BY 1, 2")
    probe_src = probe_sql or f"SELECT DISTINCT {group_col}, {token_col} " \
                             f"FROM ({token_source_sql})"
    return f"""
WITH {cms_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
probe AS (SELECT {group_col} AS g, {token_col} AS tok,
                 {md5_long60_sql(token_col)} AS k
          FROM ({probe_src})),
vals AS (SELECT probe.g, probe.tok, h.i, b.bc
         FROM probe CROSS JOIN hashes h
         JOIN bucketed b ON b.g = probe.g AND b.i = h.i
          AND b.bucket = {_bucket_expr('probe.k', width)})
SELECT g AS {group_col}, tok AS {token_col}, min(bc) AS {out_col}
FROM vals GROUP BY 1, 2
"""


def countsketch_drift_topk(sketch_df: DataFrame, group_col: str,
                           group_a, group_b, probe_df: DataFrame,
                           probe_key: F.Column, k: int = 20,
                           out_col: str = "delta_est") -> DataFrame:
    """Top-k probe keys by |estimated frequency change| between two

    groups' corpora — sketch linearity: ``cs_a - cs_b`` IS the
    Count-Sketch of the per-key frequency delta, so its point estimates
    are unbiased signed drift estimates (the change-detection /
    "deltoids" use-case, Cormode-Muthukrishnan 2005). Plan: the two
    blobs meet in one broadcast row, probes stream through the standard
    Arrow lookup, top-k via TakeOrderedAndProject. Deterministic
    ordering: (|delta| desc, probe columns asc).
    """
    from mahout_spark.core.countsketch import CountSketch

    a = sketch_df.filter(F.col(group_col) == F.lit(group_a)) \
        .select(F.col("sketch").alias("__sa"))
    b = sketch_df.filter(F.col(group_col) == F.lit(group_b)) \
        .select(F.col("sketch").alias("__sb"))

    def diff(sa: bytes, sb: bytes) -> tuple:
        return (CountSketch.deserialize(sa).subtract(
            CountSketch.deserialize(sb)).serialize(),)

    delta_sk = _blob_pairs(a.crossJoin(F.broadcast(b)), [], diff,
                           "sketch binary")
    probe_names = probe_df.columns
    est = cms_point_lookup(delta_sk, probe_df, probe_key, out_col=out_col,
                           deserializer=CountSketch.deserialize)
    return (est.orderBy(F.abs(F.col(out_col)).desc(), *probe_names)
            .limit(k))


def countsketch_drift_topk_oracle_sql(token_source_sql: str, depth: int,
                                      width: int, seed: int,
                                      group_col: str, group_a: str,
                                      group_b: str, probe_sql: str, k: int,
                                      token_col: str = "token",
                                      out_col: str = "delta_est") -> str:
    """DuckDB replay of countsketch_drift_topk: rebuild both groups'

    signed counters, difference them per (row, bucket), median over rows
    of sign * delta-counter per probe, rank by (|delta| desc, token).
    """
    keyed = (f"SELECT {group_col} AS g, {md5_long60_sql(token_col)} AS k, "
             f"count(*) AS c FROM ({token_source_sql}) "
             f"WHERE {group_col} IN ('{group_a}', '{group_b}') "
             f"GROUP BY 1, 2")
    return f"""
WITH {countsketch_bucket_cte(keyed, depth, width, seed, group_by='keyed.g,')},
delta AS (
  SELECT i, bucket,
         sum(CASE WHEN g = '{group_a}' THEN bc ELSE -bc END) AS bc
  FROM bucketed GROUP BY 1, 2),
probe AS (SELECT {token_col} AS tok,
                 {md5_long60_sql(token_col)} AS k FROM ({probe_sql})),
vals AS (SELECT probe.tok, h.i,
                {_cs_sign_expr('probe.k')} * coalesce(d.bc, 0.0) AS v
         FROM probe CROSS JOIN hashes h
         LEFT JOIN delta d
           ON d.i = h.i AND d.bucket = {_bucket_expr('probe.k', width)}),
est AS (SELECT tok, median(v) AS delta FROM vals GROUP BY tok)
SELECT tok AS {token_col}, delta AS {out_col}
FROM est ORDER BY abs(delta) DESC, tok LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Priority sampling: mergeable weighted sample -> subset-sum estimation
# ---------------------------------------------------------------------------


def priority_sample_weights(df: DataFrame, key_col: str,
                            weight_col: str | None = None,
                            k: int = 64) -> DataFrame:
    """Global priority sample (core/priority.py) over per-key total
    weights -> DataFrame[rank, u, w, tau, w_hat] with <= k rows.

    ONE distributed build: the JVM groupBy pre-aggregates weight per key
    (the merge contract — every u enters exactly one partial sample),
    mapInPandas partials retain top-(k+1) by priority, the salted merge
    tree re-truncates; retained state is an order statistic of the
    union, so any partitioning yields the same bits. The final sample is
    k rows — a bounded driver product like every model collect in this
    repo. ``weight_col=None`` weights each key by its row count.

    u = md5_long60(key)+1 (DuckDB-replayable); w = total weight
    (exact cross-engine for integer-valued weights); tau = (k+1)-th
    priority (0.0 while the sample is still exhaustive — estimates are
    then EXACT); w_hat = max(w, tau), the DLT'07 unbiased per-item
    estimator: any subset's total weight is estimated by summing w_hat
    over the sample's members of that subset.
    """
    from ..core.priority import PrioritySample
    from .agg import priority_spec, sketch_global

    spec = priority_spec(k=k)
    blob = sketch_global(df, spec, value_col=weight_col,
                         key_expr=md5_long60(F.col(key_col).cast("string"))
                         + F.lit(1))
    ps = PrioritySample.deserialize(blob)
    u, w, w_hat = ps.sample()
    tau = ps.tau()
    rows = [(i + 1, int(u[i]), float(w[i]), tau, float(w_hat[i]))
            for i in range(len(u))]
    return df.sparkSession.createDataFrame(
        rows, "rank int, u long, w double, tau double, w_hat double")


def priority_sample_oracle_sql(keyed_source_sql: str, key: str, weight: str,
                               k: int = 64, domain: int = 1 << 60) -> str:
    """DuckDB replay of priority_sample_weights: per-key weight sums,
    one ROW_NUMBER() window over priority w/u (DESC, u ASC tie-break —
    exactly core/priority.py's lexsort; the domain scaling is an exact
    power-of-two shift so the un-normalized ratio induces the identical
    order), tau = (w * domain) / u at rank k+1 with the same pinned
    multiply-then-divide. Both engines perform identical IEEE double
    ops, so every float (q-order, tau, w_hat) lands bit-exact.
    ``weight`` may be any SQL expression over the source (use ``1`` for
    row counts)."""
    u = f"({md5_long60_sql(key)} + 1)"
    return f"""
WITH __ps_src AS ({keyed_source_sql}),
__ps_agg AS (
  SELECT {u} AS u, SUM({weight})::DOUBLE AS w FROM __ps_src GROUP BY 1
),
__ps_rank AS (
  SELECT u, w, row_number() OVER (ORDER BY w / u DESC, u ASC) AS rnk
  FROM __ps_agg
),
__ps_tau AS (
  SELECT COALESCE(
    (SELECT (w * {float(domain)}) / u FROM __ps_rank
     WHERE rnk = {k + 1}), 0.0) AS tau
)
SELECT r.rnk::INT AS rank, r.u, r.w, t.tau,
       CASE WHEN r.w >= t.tau THEN r.w ELSE t.tau END AS w_hat
FROM __ps_rank r, __ps_tau t WHERE r.rnk <= {k}
"""


def tuple_totals_by_group(df: DataFrame, group_col: str, key_col: str,
                          value_col: str | None = None,
                          k: int = 64) -> DataFrame:
    """Per-group tuple-sketch totals (core/tuplesketch.py, sum mode) ->
    DataFrame[group, n_retained, theta, est_distinct, est_total].

    ONE distributed build per group (JVM per-key value-sum preagg ->
    mapInPandas partials -> salted merge; bottom-k state is an order
    statistic of the union so any partitioning yields the same bits),
    then a bounded driver decode — one sketch per group, exactly like
    every model collect in this repo. ``value_col=None`` sums 1 per
    row (the summary then counts rows per distinct key).

    Estimator arithmetic is a single exact power-of-two multiply plus
    one IEEE divide (integer-valued summaries), so a DuckDB window
    replay (``tuple_totals_oracle_sql``) matches bit-exact.
    """
    from ..core.tuplesketch import TupleSketch
    from .agg import sketch_by_key, tuple_spec

    spec = tuple_spec(k=k)
    sk = sketch_by_key(df, [group_col], spec, value_col=value_col,
                       key_expr=md5_long60(F.col(key_col).cast("string")))
    rows = []
    for r in sk.collect():            # bounded: one row per group
        ts = TupleSketch.deserialize(r["sketch"])
        rows.append((r[group_col], len(ts.hashes), ts.theta,
                     ts.estimate(), ts.total_estimate()))
    return df.sparkSession.createDataFrame(
        rows, f"{group_col} string, n_retained int, theta long, "
              "est_distinct double, est_total double")


def tuple_totals_oracle_sql(keyed_source_sql: str, group: str, key: str,
                            value: str, k: int = 64,
                            domain: int = 1 << 60) -> str:
    """DuckDB replay of tuple_totals_by_group: per (group, key) value
    sums under md5_long60, bottom-k per group by hash, theta = k-th
    smallest when full else domain, and the two estimators with the
    same pinned multiply-then-divide (domain is a power of two, so the
    multiply is an exact float64 exponent shift — bit-exact cross-
    engine for integer-valued summaries)."""
    h = md5_long60_sql(key)
    d = float(domain)
    return f"""
WITH __tu_src AS ({keyed_source_sql}),
__tu_agg AS (
  SELECT {group} AS g, {h} AS h, SUM({value})::DOUBLE AS v
  FROM __tu_src GROUP BY 1, 2
),
__tu_rank AS (
  SELECT g, h, v,
         row_number() OVER (PARTITION BY g ORDER BY h ASC) AS rnk,
         count(*) OVER (PARTITION BY g) AS n_keys
  FROM __tu_agg
),
__tu_kept AS (SELECT * FROM __tu_rank WHERE rnk <= {k}),
__tu_state AS (
  SELECT g, count(*)::INT AS n_retained,
         CASE WHEN max(n_keys) >= {k} THEN max(h)
              ELSE {domain} END AS theta,
         SUM(v) AS v_all,
         COALESCE(SUM(v) FILTER (WHERE rnk < {k}), 0.0) AS v_below
  FROM __tu_kept GROUP BY g
)
SELECT g AS {group}, n_retained, theta,
       CASE WHEN theta >= {domain} THEN n_retained::DOUBLE
            ELSE ({float(k - 1)} * {d}) / theta::DOUBLE END AS est_distinct,
       CASE WHEN theta >= {domain} THEN v_all
            ELSE (v_below * {d}) / theta::DOUBLE END AS est_total
FROM __tu_state
"""


def moments_by_group(df: DataFrame, group_col: str, value_col: str,
                     t: int = 4, quantiles: list[float] | None = None,
                     jvm_only: bool = False) -> DataFrame:
    """Per-group moments-sketch state (core/moments.py) ->
    DataFrame[group, n, lo, hi, m1..mt (+ q_* estimates)].

    Two equivalent builds (pytest pins them bit-identical on integer
    inputs): ``jvm_only=True`` computes the power sums as built-in
    Spark aggregates over chained products — the 100-TB path, pure
    whole-stage codegen, zero Python; the default routes through the
    generic sketch machinery (mapInPandas partials + salted merge),
    exercising the same serialize/merge code every other sketch uses.
    ``quantiles`` appends driver-side maxent estimates (estimator
    columns — accuracy-tested, not oracle-replayable).
    """
    from ..core.moments import MomentsSketch
    from .agg import moments_spec, sketch_by_key

    mcols = [f"m{k}" for k in range(1, t + 1)]
    if jvm_only:
        v = F.col(value_col).cast("double")
        powers, p = [], v
        for _ in range(t):
            powers.append(p)
            p = p * v
        state = df.groupBy(group_col).agg(
            F.count("*").cast("double").alias("n"),
            F.min(v).alias("lo"), F.max(v).alias("hi"),
            *[F.sum(powers[k]).alias(mcols[k]) for k in range(t)])
        rows = [(r[group_col], r["n"], r["lo"], r["hi"],
                 *[r[c] for c in mcols]) for r in state.collect()]
        sketches = {r[0]: MomentsSketch(
            t, r[1], r[2], r[3], np.array(r[4:], dtype=np.float64))
            for r in rows}
    else:
        sk = sketch_by_key(df, [group_col], moments_spec(t=t),
                           value_col=value_col)
        sketches = {r[group_col]: MomentsSketch.deserialize(r["sketch"])
                    for r in sk.collect()}   # bounded: one row per group
    out = []
    for g, s in sketches.items():
        row = [g, s.n, s.lo, s.hi, *[float(x) for x in s.sums]]
        for q in (quantiles or []):
            row.append(float(s.quantile(q)))
        out.append(tuple(row))
    qcols = "".join(f", q{str(q).replace('.', '_')} double"
                    for q in (quantiles or []))
    return df.sparkSession.createDataFrame(
        out, f"{group_col} string, n double, lo double, hi double, "
             + ", ".join(f"{c} double" for c in mcols) + qcols)


def moments_oracle_sql(source_sql: str, group: str, value: str,
                       t: int = 4) -> str:
    """DuckDB replay of the moments-sketch state: count, min, max and
    the power sums as CHAINED PRODUCTS (x*x*..., never pow() — pow may
    route through exp/log) so with integer inputs every sum is an
    exact float64 integer identical to the distributed build under any
    partitioning."""
    prods = [" * ".join([f"({value})::DOUBLE"] * k) for k in range(1, t + 1)]
    msel = ", ".join(f"SUM({p}) AS m{k}" for k, p in enumerate(prods, 1))
    return f"""
SELECT {group}, count(*)::DOUBLE AS n,
       MIN(({value})::DOUBLE) AS lo, MAX(({value})::DOUBLE) AS hi,
       {msel}
FROM ({source_sql}) __mm_src GROUP BY {group}
"""


def counting_bloom_oracle_sql(add_source_sql: str, rem_source_sql: str,
                              probe_source_sql: str, capacity: int,
                              fp_rate: float, seed: int) -> str:
    """DuckDB replay of a parity counting-Bloom build + retraction +
    probe: net counter at every (probe row, position) = added
    multiplicities minus removed ones under the affine probe family;
    membership = min over the k probe counters > 0. Sources emit one
    occurrence per row in column ``t``; probes emit distinct ``t``."""
    from mahout_spark.core.bloom import bloom_geometry

    m, k = bloom_geometry(capacity, fp_rate)
    return f"""
WITH {_hashes_cte(k, seed)},
addc AS (SELECT {md5_long60_sql('t')} AS key, count(*)::BIGINT AS c
         FROM ({add_source_sql}) GROUP BY 1),
remc AS (SELECT {md5_long60_sql('t')} AS key, -count(*)::BIGINT AS c
         FROM ({rem_source_sql}) GROUP BY 1),
net AS (
  SELECT h.i, ((h.a * u.key + h.b) % {BIG_PRIME}) % {m} AS pos,
         SUM(u.c)::BIGINT AS cnt
  FROM (SELECT * FROM addc UNION ALL SELECT * FROM remc) u
  CROSS JOIN hashes h GROUP BY 1, 2
),
probes AS (SELECT t, {md5_long60_sql('t')} AS key
           FROM ({probe_source_sql})),
probe_pos AS (
  SELECT p.t, h.i, ((h.a * p.key + h.b) % {BIG_PRIME}) % {m} AS pos
  FROM probes p CROSS JOIN hashes h
)
SELECT pp.t AS token,
       MIN(COALESCE(n.cnt, 0))::BIGINT AS min_count,
       (MIN(COALESCE(n.cnt, 0)) > 0) AS maybe_contains
FROM probe_pos pp LEFT JOIN net n ON n.i = pp.i AND n.pos = pp.pos
GROUP BY pp.t
"""
