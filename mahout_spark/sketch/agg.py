"""Generic mergeable-sketch aggregation over DataFrames.

The distributed pattern (north rule: "built per partition ... merged
associatively through treeAggregate-style combine steps"). All three
builders (``sketch_by_key``, ``sketch_per_group``,
``sketch_per_group_skewed``) share one front end:

  prologue (``_slim``): (group, key, value), the key mapped by the one
      sketch-key rule (``_sketch_key``) or an explicit ``key_expr``, then
      the spec's JVM preagg ('sum' / 'distinct' / 'value_sum').

  build: CMS specs (the fast, parity and xxh families) go through one
      batched kernel (``_cms_blobs``): a ``mapInArrow`` pass that, per
      Arrow batch, gives every row a group id, hashes every key once and
      scatter-adds all groups' counters with ``np.add.at`` in row order —
      byte-identical to one ``update_batch`` per group. Other kinds run
      ``_build_blob`` (make -> update | update_weighted -> serialize).
      ``sketch_by_key`` builds one partial per Arrow batch and group — a
      map-side combine, so the shuffle carries only #batches x #groups
      blobs, never raw rows (the reference's per-partition dense
      accumulators, SparkEngine.scala:44-82, and AtA's map-side combine,
      blas/AtA.scala:203-220). ``sketch_per_group`` builds each group
      whole: for CMS it clusters and sorts the rows by group (the Exchange
      + Sort ``applyInPandas`` would plan) and runs the same kernel,
      emitting a group once the next one starts; other kinds run
      ``_build_blob`` once per group in ``applyInPandas``.

  merge (``merge_sketch_rows``): ``applyInPandas`` per group key merges
      blobs associatively. ``n_salt > 1`` inserts a salted level
      (groupBy(key, salt) -> groupBy(key)) — the treeAggregate depth-2
      shape, for head-key skew (the reference only downsamples). Rollups,
      checkpoint resume and stream upserts use the same merge.

Determinism: partial emission order never affects the result for CMS/HLL/
Bloom (bit-exact merges); t-digest/KLL are order-insensitive up to their
published error bounds. No rand() anywhere — salts are fixed-seed hashes
of the partial blobs.

Sizing note for 100 TB: one CMS blob at (eps=1e-3, delta=1e-2) is
d=5 x w=2719 x 8B ≈ 109 KB; per-batch-per-group emission keeps executor
memory at O(groups-per-batch x blob), independent of input rows, and the
batched CMS kernel holds at most ``_SCATTER_CELLS`` counters (32 MB) at once.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, StructField, StructType)

from mahout_spark.core.bloom import BloomFilter
from mahout_spark.core.cms import CountMinSketch
from mahout_spark.core.countingbloom import CountingBloomFilter
from mahout_spark.core.countsketch import CountSketch
from mahout_spark.core.hll import HyperLogLog
from mahout_spark.core.kll import KLLSketch
from mahout_spark.core.priority import PrioritySample
from mahout_spark.core.req import REQSketch
from mahout_spark.core.spacesaving import MisraGries
from mahout_spark.core.tdigest import TDigest
from mahout_spark.core.moments import MomentsSketch
from mahout_spark.core.theta import DOMAIN60, ThetaSketch
from mahout_spark.core.tuplesketch import TupleSketch


@dataclass(frozen=True)
class SketchSpec:
    """How to build / update / merge one sketch kind.

    ``preagg``: how the JVM can compress rows before Arrow transfer —
    'sum' (linear sketch: groupBy(key).sum(weight) feeds weighted
    updates), 'distinct' (idempotent sketch: duplicate keys are no-ops),
    or None (order/value-sensitive: raw rows required). At web scale this
    is the single biggest lever: the JVM partial aggregation collapses a
    token stream ~100-1000x before any Python/Arrow cost is paid.
    """

    kind: str
    make: Callable[[], object]
    # update(sketch, keys: np.ndarray|None, values: np.ndarray|None)
    update: Callable[[object, np.ndarray, np.ndarray], None]
    needs_key: bool
    needs_value: bool
    preagg: str | None = None
    # for preagg == 'value_sum': update_weighted(sketch, values, weights)
    update_weighted: Callable[[object, np.ndarray, np.ndarray],
                              None] | None = None

    def deserialize(self, blob: bytes):
        return {
            "cms": CountMinSketch, "hll": HyperLogLog, "bloom": BloomFilter,
            "mg": MisraGries, "theta": ThetaSketch, "csk": CountSketch,
            "tdigest": TDigest, "kll": KLLSketch, "psk": PrioritySample,
            "tus": TupleSketch, "mms": MomentsSketch,
            "cbf": CountingBloomFilter, "req": REQSketch,
        }[self.kind].deserialize(bytes(blob))


def cms_spec(eps: float = 0.001, delta: float = 0.01, seed: int = 1) -> SketchSpec:
    return SketchSpec(
        "cms",
        make=lambda: CountMinSketch.from_error_bound(eps, delta, seed),
        update=lambda s, k, v: s.update_batch(k, 1.0 if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


def cms_spec_shape(depth: int, width: int, seed: int = 1,
                   parity: bool = False,
                   family: str | None = None) -> SketchSpec:
    """CMS with explicit geometry. ``parity=True`` uses the reference's

    affine hash family ((a*k+b) mod p) mod w — slower, but replayable in
    DuckDB SQL (HUGEINT) so the driver's oracle can verify the whole
    distributed build+merge numerically. ``family="xxh"`` is the
    Catalyst-expressible family (buckets = pmod(xxhash64(key, seed, i),
    width)) shared with the all-JVM ``cms_per_group_bucketed`` builder.
    """
    return SketchSpec(
        "cms",
        make=lambda: CountMinSketch(depth=depth, width=width, seed=seed,
                                    parity=parity, family=family),
        update=lambda s, k, v: s.update_batch(k, 1.0 if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


def hll_spec(p: int = 14, seed: int = 1, sparse_limit: int = 4096,
             parity: bool = False) -> SketchSpec:
    """``parity=True``: keys must be md5_long60 hashes; the whole sketch is

    then DuckDB-replayable (see core/hll.py). Pair with ``sparse_limit=0``
    so the dense-register path (the thing worth verifying) is exercised."""
    return SketchSpec(
        "hll", make=lambda: HyperLogLog(p=p, seed=seed,
                                        sparse_limit=sparse_limit,
                                        parity=parity),
        update=lambda s, k, v: s.update_batch(k),
        needs_key=True, needs_value=False, preagg="distinct")


def bloom_spec(capacity: int = 100_000, fp_rate: float = 0.01,
               seed: int = 1, parity: bool = False) -> SketchSpec:
    return SketchSpec(
        "bloom", make=lambda: BloomFilter.from_capacity(capacity, fp_rate,
                                                        seed, parity=parity),
        update=lambda s, k, v: s.add_batch(k),
        needs_key=True, needs_value=False, preagg="distinct")


def tdigest_spec(compression: float = 100.0,
                 dedup_values: bool = False) -> SketchSpec:
    """``dedup_values=True`` turns on the 'value_sum' JVM preagg:

    groupBy(group, value).count() before Arrow, then weighted centroid
    updates — bounds the Python-bound row count by the VALUE CARDINALITY
    instead of the row count. The win for discrete-ish columns (prices,
    durations, counts) mirrors the CMS count preagg; for continuous
    values it only adds a shuffle, so it is opt-in. The resulting digest
    differs from the raw-order build within the same rank-error bound
    (t-digests are insertion-order-sensitive by definition).
    """
    return SketchSpec(
        "tdigest", make=lambda: TDigest(compression),
        update=lambda s, k, v: s.update_batch(v),
        needs_key=False, needs_value=True,
        preagg="value_sum" if dedup_values else None,
        update_weighted=lambda s, v, w: s.update_batch(v, w))


def kll_spec(k: int = 200, seed: int = 1) -> SketchSpec:
    return SketchSpec(
        "kll", make=lambda: KLLSketch(k, seed),
        update=lambda s, k_, v: s.update_batch(v),
        needs_key=False, needs_value=True)


def req_spec(k: int = 32, seed: int = 1, hra: bool = True) -> SketchSpec:
    """REQ relative-error quantile sketch (core/req.py): tail-accurate
    sibling of kll_spec — same raw-row contract (rank queries are
    order statistics, no linear preagg exists). ``hra=False`` protects
    LOW ranks instead (minima / p001 floors)."""
    return SketchSpec(
        "req", make=lambda: REQSketch(k, seed, hra=hra),
        update=lambda s, k_, v: s.update_batch(v),
        needs_key=False, needs_value=True)


def mg_spec(eps: float = 1e-4) -> SketchSpec:
    """Misra-Gries heavy-hitters summary (undercount <= eps * N).

    Linear in weights like the CMS, so the same JVM preagg applies —
    one (key, total weight) partial row per task crosses to Python.
    Counter values (not the bounds) are ingest-order dependent; consume
    via ``candidates()`` + an exact verify join
    (sketch.queries.heavy_hitters), never as exact counts."""
    return SketchSpec(
        "mg",
        make=lambda: MisraGries.from_error_bound(eps),
        update=lambda s, k, v: s.update_batch(k, 1.0 if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


def theta_spec(k: int = 64, domain: int = DOMAIN60) -> SketchSpec:
    """KMV/Theta bottom-k distinct sketch (core/theta.py) — SET
    analytics (union / intersection / Jaccard between groups).

    Keys must be pre-hashed uniform int64 in [0, domain): pass
    ``key_expr=md5_long60(col)`` (default domain; DuckDB-replayable —
    an ORDER BY hash LIMIT k oracle rebuilds the state bit-exact) or
    any JVM hash masked to the domain for the fast path. State is
    order/merge-tree independent, so results are identical under any
    partitioning — the strongest determinism in the sketch family."""
    return SketchSpec(
        "theta", make=lambda: ThetaSketch(k=k, domain=domain),
        update=lambda s, kk, v: s.update_batch(kk),
        needs_key=True, needs_value=False, preagg="distinct")


def priority_spec(k: int = 64, domain: int = DOMAIN60) -> SketchSpec:
    """Priority sample (Duffield-Lund-Thorup JACM'07, core/priority.py)

    — mergeable weighted sample answering arbitrary subset sums from k
    retained rows. Keys must be pre-hashed uniform int64 in
    [1, domain]: pass ``key_expr=md5_long60(col) + 1`` (DuckDB-
    replayable — a single ``ROW_NUMBER() OVER (ORDER BY w/u DESC, u)``
    window rebuilds the state bit-exact). The 'sum' preagg is the merge
    contract itself: duplicate keys share u, and the global per-key
    groupBy guarantees no sketch ever sees a key it might later have to
    re-weight after eviction — retained state is then a pure order
    statistic of the union, identical under any merge tree.
    Weights should be integer-valued (counts, byte/char totals) for
    cross-engine sum exactness; any positive double works within the
    usual float-fold caveat."""
    return SketchSpec(
        "psk", make=lambda: PrioritySample(k=k, domain=domain),
        update=lambda s, kk, v: s.update_batch(kk, v),
        needs_key=True, needs_value=False, preagg="sum")


def tuple_spec(k: int = 64, domain: int = DOMAIN60,
               mode: str = "sum") -> SketchSpec:
    """Tuple (theta + per-key value summary) sketch
    (core/tuplesketch.py) — estimated metric TOTALS over distinct-key
    populations and their set expressions. Keys must be pre-hashed
    uniform int64 in [0, domain): pass ``key_expr=md5_long60(col)``
    for the DuckDB-replayable parity path. In ``sum`` mode the 'sum'
    JVM preagg applies (duplicate keys' values add before ingest, the
    same linearity CMS/priority use); ``min``/``max`` are idempotent
    per-key folds, so the preagg collapses duplicates with the same
    rule instead."""
    if mode not in ("sum", "min", "max"):
        raise ValueError("mode must be sum|min|max")
    return SketchSpec(
        "tus", make=lambda: TupleSketch(k=k, domain=domain, mode=mode),
        update=lambda s, kk, v: s.update_batch(
            kk, np.ones(len(kk)) if v is None else v),
        needs_key=True, needs_value=False,
        preagg="sum" if mode == "sum" else None)


def countingbloom_spec(capacity: int = 100_000, fp_rate: float = 0.01,
                       seed: int = 1, parity: bool = False) -> SketchSpec:
    """Counting Bloom filter (Fan et al. ToN'00, core/countingbloom.py)
    — deletable membership. Counter-linear, so the 'sum' JVM preagg
    applies: the shuffle carries (key, multiplicity), and a negated
    sketch merge retracts a partition without a rebuild."""
    return SketchSpec(
        "cbf",
        make=lambda: CountingBloomFilter.from_capacity(
            capacity, fp_rate, seed, parity=parity),
        update=lambda s, k, v: s.add_batch(
            k, None if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


def moments_spec(t: int = 4, dedup_values: bool = False) -> SketchSpec:
    """Moments sketch (Gan et al. VLDB'18, core/moments.py) — power
    sums + count + min/max; the cheapest merge of any quantile summary
    (vector add). With integer inputs every partial sum is an exact
    float64 integer under ANY ingest/merge order, so a SQL oracle can
    rebuild the distributed state bit-exact. ``dedup_values=True``
    turns on the 'value_sum' JVM preagg (collapse duplicate values,
    weighted power updates) — unlike t-digest this changes NOTHING in
    the result (power sums are weight-linear), so it is safe whenever
    the value cardinality is below the row count."""
    return SketchSpec(
        "mms", make=lambda: MomentsSketch(t=t),
        update=lambda s, k, v: s.update_batch(v),
        needs_key=False, needs_value=True,
        preagg="value_sum" if dedup_values else None,
        update_weighted=lambda s, v, w: s.update_batch(v, w))


def countsketch_spec(eps: float = 0.01, delta: float = 0.01,
                     seed: int = 1, family: str = "fast") -> SketchSpec:
    """Count-Sketch (signed, UNBIASED two-sided estimates — core/

    countsketch.py). Linear like the CMS, so it shares the 'sum' JVM
    preagg: the shuffle carries (key, total weight), never raw tokens."""
    return SketchSpec(
        "csk",
        make=lambda: CountSketch.from_error_bound(eps, delta, seed,
                                                  family=family),
        update=lambda s, k, v: s.update_batch(k, 1.0 if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


def countsketch_spec_shape(depth: int, width: int, seed: int = 1,
                           family: str = "fast") -> SketchSpec:
    """Count-Sketch with explicit geometry. ``family="parity"`` uses the

    reference's affine hash family for buckets plus an independent affine
    draw mod 2 for signs — every counter is then DuckDB-replayable
    (sketch/queries.countsketch_* oracle builders)."""
    return SketchSpec(
        "csk",
        make=lambda: CountSketch(depth=depth, width=width, seed=seed,
                                 family=family),
        update=lambda s, k, v: s.update_batch(k, 1.0 if v is None else v),
        needs_key=True, needs_value=False, preagg="sum")


SKETCH_SPECS = {"cms": cms_spec, "hll": hll_spec, "bloom": bloom_spec,
                "tdigest": tdigest_spec, "kll": kll_spec, "mg": mg_spec,
                "theta": theta_spec, "csk": countsketch_spec,
                "psk": priority_spec, "tus": tuple_spec,
                "mms": moments_spec, "cbf": countingbloom_spec,
                "req": req_spec}


# counters one scatter pass allocates (32 MB of float64): a batch of many
# small groups is built in slices of groups, never all at once
_SCATTER_CELLS = 1 << 22

# kinds whose merge result is byte-identical under any merge tree
# (counter/register/set semantics; priority sampling is an order
# statistic of the union) — see sketch_by_key's adaptive salt skip
_EXACT_MERGE_KINDS = {"cms", "csk", "hll", "bloom", "cbf", "theta", "psk"}


def _merge_blobs(spec: SketchSpec, blobs) -> bytes:
    acc = None
    for blob in blobs:
        s = spec.deserialize(blob)
        acc = s if acc is None else acc.merge(s)
    return acc.serialize()


def _sketch_key(df: DataFrame, key_col: str) -> F.Column:
    """The 64-bit sketch key of ``key_col``: string/binary keys are

    hashed JVM-side (xxhash64), anything else is cast to long. Every
    builder, and every query that must find a sketched key again
    (``queries.heavy_hitters``), goes through this one rule."""
    kc = df.schema[key_col].dataType.simpleString()
    return (F.xxhash64(F.col(key_col)) if kc in ("string", "binary")
            else F.col(key_col).cast("long"))


def _sketch_schema(frame: DataFrame, keys: list[str]) -> StructType:
    return StructType([frame.schema[c] for c in keys]
                      + [StructField("sketch", BinaryType())])


def _head_row(pdf: pd.DataFrame, keys: list[str], blob: bytes) -> pd.DataFrame:
    head = pdf.iloc[[0]][keys].copy()
    head["sketch"] = [blob]
    return head


def _slim(df: DataFrame, gnames: list[str], spec: SketchSpec,
          key_col: str | None, value_col: str | None,
          key_expr: F.Column | None) -> DataFrame:
    """The builders' prologue -> [gnames..., __key?, __val?, __w?]: the
    group columns, the sketch key and the double value, then the spec's
    JVM preagg BEFORE any Arrow transfer — a linear sketch only needs
    (key, total weight), an idempotent one distinct keys, a
    weight-mergeable value sketch (value, multiplicity). A preagg ends in
    a deterministic keyed exchange, so narrow (single-row-group) inputs
    are widened without changing any result (guide §2.5); raw paths
    (t-digest/KLL/REQ ingestion) keep their partition-order-sensitive
    input partitioning.
    """
    if spec.needs_key and not key_col and key_expr is None:
        raise ValueError(f"{spec.kind} needs key_col or key_expr")
    if spec.needs_value and value_col is None:
        raise ValueError(f"{spec.kind} needs value_col")
    from mahout_spark.plans.scaleio import widen_partitions

    sel = [F.col(c) for c in gnames]
    if key_expr is not None:
        sel.append(key_expr.cast("long").alias("__key"))
    elif key_col:
        sel.append(_sketch_key(df, key_col).alias("__key"))
    if value_col:
        sel.append(F.col(value_col).cast("double").alias("__val"))
    slim = df.select(*sel)
    has_key = "__key" in slim.columns
    if spec.preagg == "sum" and has_key:
        agg = (F.sum("__val") if value_col else
               F.count("*").cast("double")).alias("__val")
        return widen_partitions(slim).groupBy(*gnames, "__key").agg(agg)
    if spec.preagg == "distinct" and has_key:
        return widen_partitions(slim).select(*gnames, "__key").distinct()
    if spec.preagg == "value_sum" and value_col:
        return (widen_partitions(slim).groupBy(*gnames, "__val")
                .agg(F.count("*").cast("double").alias("__w")))
    return slim


def _build_blob(spec: SketchSpec, pdf: pd.DataFrame) -> bytes:
    """make -> update (or update_weighted) -> serialize over one group's
    rows of a ``_slim`` frame."""
    s = spec.make()
    vals = pdf["__val"].to_numpy(dtype=np.float64) if "__val" in pdf else None
    if "__w" in pdf:
        spec.update_weighted(s, vals, pdf["__w"].to_numpy(dtype=np.float64))
    else:
        keys = (pdf["__key"].to_numpy(dtype=np.int64) if "__key" in pdf
                else None)
        spec.update(s, keys, vals)
    return s.serialize()


def _group_codes(cols: list) -> np.ndarray:
    """One int64 group id per row of the Arrow group columns ``cols``:
    rows share an id iff their key tuples are equal, NULL equal to NULL
    (Spark's grouping). Ids are dense: 0 .. #groups - 1."""
    codes = None
    for col in cols:
        enc = pc.dictionary_encode(col, null_encoding="encode")
        idx = enc.indices.to_numpy().astype(np.int64)
        codes = idx if codes is None else np.unique(
            codes * len(enc.dictionary) + idx, return_inverse=True)[1]
    return codes


def _cms_scatter(proto: CountMinSketch, keys: np.ndarray, incs: np.ndarray,
                 codes: np.ndarray, n_groups: int,
                 carry: np.ndarray | None = None):
    """-> (g0, counters) slices, each at most ``_SCATTER_CELLS`` counters,
    covering groups 0..n_groups-1: row i's key scatter-added into group
    ``codes[i]``, ``carry`` seeding group 0. Every key is hashed once and
    ``np.add.at`` adds in row order, so each counter gets the same
    additions in the same order as ``CountMinSketch.update_batch`` over
    its group's rows alone: the blobs are byte-identical."""
    d, w = proto.depth, proto.width
    buckets = proto._bucket_rows(keys)  # (depth, rows)
    step = max(1, _SCATTER_CELLS // (d * w))
    for g0 in range(0, n_groups, step):
        g1 = min(g0 + step, n_groups)
        sel = (slice(None) if g1 - g0 == n_groups
               else (codes >= g0) & (codes < g1))
        counts = np.zeros((g1 - g0, d, w))
        if g0 == 0 and carry is not None:
            counts[0] = carry
        cells = ((codes[sel] - g0) * d + np.arange(d)[:, None]) * w \
            + buckets[:, sel]
        np.add.at(counts.reshape(-1), cells.ravel(),
                  np.broadcast_to(incs[sel], cells.shape).ravel())
        yield g0, counts


def _cms_blobs(slim: DataFrame, gnames: list[str], spec: SketchSpec,
               open_groups: bool) -> DataFrame:
    """The batched CMS build over a ``_slim`` frame: one ``mapInArrow``
    pass, per Arrow batch one group id per row and one ``_cms_scatter``
    for all its groups. ``open_groups=False``: one partial blob per group
    per batch (sketch_by_key's map-side combine). ``open_groups=True``:
    the input is clustered and sorted by group, so a group's rows are one
    run that may continue into the next batch; a group is emitted once the
    next one starts, and only the still-open group's counters carry over.
    """
    proto = spec.make()
    header = proto.serialize()[:-proto.counts.nbytes]
    names = gnames + ["sketch"]

    def emit(cols, counts) -> pa.RecordBatch:
        blobs = pa.array([header + c.tobytes() for c in counts], pa.binary())
        return pa.RecordBatch.from_arrays(cols + [blobs], names=names)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        head = carry = None  # the open group: key columns, counters
        for rb in batches:
            if not rb.num_rows:
                continue
            gcols = [rb.column(c) for c in gnames]
            if head is not None:
                gcols = [pa.concat_arrays([h, c])
                         for h, c in zip(head, gcols)]
            codes = _group_codes(gcols)
            if open_groups:
                new = np.r_[True, codes[1:] != codes[:-1]]
                codes, first = np.cumsum(new) - 1, np.flatnonzero(new)
            else:
                first = np.unique(codes, return_index=True)[1]
            keys = rb.column("__key").to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            incs = (rb.column("__val").to_numpy(zero_copy_only=False)
                    if "__val" in rb.schema.names else np.ones(rb.num_rows))
            n = len(first)
            for g0, counts in _cms_scatter(proto, keys, incs,
                                           codes[len(codes) - rb.num_rows:],
                                           n, carry):
                if open_groups and g0 + len(counts) == n:
                    head = [c.take([first[-1]]) for c in gcols]
                    carry, counts = counts[-1].copy(), counts[:-1]
                if len(counts):
                    rows = first[g0:g0 + len(counts)]
                    yield emit([c.take(rows) for c in gcols], counts)
        if head is not None:
            yield emit(head, carry[None])

    return slim.mapInArrow(build, schema=_sketch_schema(slim, gnames))


def _merged_partials(slim: DataFrame, gnames: list[str], spec: SketchSpec,
                     n_salt: int = 1) -> DataFrame:
    """sketch_by_key's body over a ``_slim`` frame: per-batch partials,
    optional salted merge level, final per-group merge."""
    def build_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for g, sub in pdf.groupby(gnames, dropna=False, sort=False):
                rows.append((*(g if isinstance(g, tuple) else (g,)),
                             _build_blob(spec, sub)))
            yield pd.DataFrame(rows, columns=gnames + ["sketch"])

    partials = (_cms_blobs(slim, gnames, spec, open_groups=False)
                if spec.kind == "cms" else
                slim.mapInPandas(build_partials,
                                 schema=_sketch_schema(slim, gnames)))
    if n_salt > 1 and spec.kind in _EXACT_MERGE_KINDS:
        # The salt level exists to cap per-task merge fan-in (partial
        # blob count per group <= #partials partitions). For kinds whose
        # merge is bit-exact under ANY merge tree, the level is pure
        # topology — skip it when the fan-in is already bounded (few
        # hundred blobs = tens of MB in one merge task) and keep it for
        # genuinely wide builds (thousands of map partitions at cluster
        # scale). Order-sensitive kinds (t-digest/KLL/REQ/Misra-Gries,
        # float-summing tuple/moments) keep their requested tree shape.
        try:
            nparts = partials.rdd.getNumPartitions()
        except Exception:  # pragma: no cover — defensive
            nparts = None
        if nparts is not None and nparts <= 256:
            n_salt = 1
    if n_salt > 1:
        # two-level treeAggregate: merge within salt buckets (a seed-7
        # hash of the blob), then across
        salted = partials.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("sketch"), F.lit(7)),
                             F.lit(n_salt)))
        partials = merge_sketch_rows(salted, spec,
                                     gnames + ["__salt"]).drop("__salt")
    return merge_sketch_rows(partials, spec, gnames)


def _per_group(slim: DataFrame, gnames: list[str],
               spec: SketchSpec) -> DataFrame:
    """sketch_per_group's body over a ``_slim`` frame. CMS: the group
    Exchange + Sort that ``applyInPandas`` would plan, then the batched
    build; other kinds: one ``_build_blob`` per group in ``applyInPandas``.
    """
    if spec.kind == "cms":
        return _cms_blobs(slim.repartition(*gnames)
                          .sortWithinPartitions(*gnames), gnames, spec,
                          open_groups=True)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        return _head_row(pdf, gnames, _build_blob(spec, pdf))

    return slim.groupBy(*gnames).applyInPandas(
        build, schema=_sketch_schema(slim, gnames))


def sketch_by_key(df: DataFrame, group_cols: list[str], spec: SketchSpec,
                  key_col: str | None = None, value_col: str | None = None,
                  n_salt: int = 1,
                  key_expr: F.Column | None = None) -> DataFrame:
    """-> DataFrame[group_cols..., sketch: binary] — one merged sketch per

    group. String keys are hashed JVM-side (xxhash64) into the sketches'
    64-bit key domain before Python ever sees them; pass ``key_expr`` to
    override (e.g. md5_long60 for DuckDB-replayable parity sketches).
    ``n_salt > 1`` inserts the salted merge level (salt = a fixed-seed
    hash of the partial blob, so retries see the same salts); it is
    skipped for exact-merge kinds when the partials' fan-in is small.
    """
    gnames = list(group_cols)
    return _merged_partials(
        _slim(df, gnames, spec, key_col, value_col, key_expr), gnames,
        spec, n_salt)


def sketch_per_group(df: DataFrame, group_cols: list[str], spec: SketchSpec,
                     key_col: str | None = None, value_col: str | None = None,
                     key_expr: F.Column | None = None) -> DataFrame:
    """One sketch per group, each group built whole in one task — the

    right shape for MANY small groups (per-user / per-item profiles, the
    CosineCM ``groupBy(user).applyInPandas(build_cms)`` mapping). The
    two-phase ``sketch_by_key`` shape is for FEW groups over massive
    streams, where per-partition partials + salted merges pay off; here a
    group fits one task, so partials would only multiply blob traffic.
    The same JVM pre-aggregation still applies before the group shuffle.
    CMS specs then take one batched Python pass per Arrow batch over the
    group-sorted rows (memory: one batch's groups plus the one group
    still open across batches); other kinds one ``applyInPandas`` call
    per group.
    """
    gnames = list(group_cols)
    return _per_group(_slim(df, gnames, spec, key_col, value_col, key_expr),
                      gnames, spec)


def sketch_per_group_skewed(df: DataFrame, group_cols: list[str],
                            spec: SketchSpec, heavy_groups: DataFrame,
                            key_col: str | None = None,
                            value_col: str | None = None,
                            key_expr: F.Column | None = None) -> DataFrame:
    """One sketch per group, Zipf-skew-aware.

    ``sketch_per_group`` makes each group ONE indivisible task — under a
    Zipf group-size distribution (token profiles: the head token holds
    several percent of ALL rows) the heaviest group becomes an Amdahl
    serial fraction that caps whole-job scaling at small core counts.
    ``sketch_by_key`` splits every group into per-partition partials —
    skew-proof, but its partial-blob traffic is groups x partitions x
    sketch_bytes, which is why it's reserved for few groups.

    This hybrid routes only the listed ``heavy_groups`` (a small frame of
    group keys — e.g. the head tokens by count, which profile pipelines
    have already computed) through the partitioned-partials path and the
    tail through the one-task-per-group path: the straggler disappears
    while partial traffic stays |heavy| x partitions x sketch_bytes. For
    CMS both branches run the batched kernel (``_cms_blobs``).
    For linear sketches (CMS/HLL/Bloom) the merged result is
    byte-identical to the single-task build; rank sketches
    (t-digest/KLL) agree within their documented merge error.
    """
    # Slim + JVM-preagg ONCE, then pin with localCheckpoint before the
    # split: the heavy/tail branches are two consumers, and without the
    # pin each would re-execute the whole upstream (explode + joins) —
    # measured as a serial +35% on the flagship job. After preagg the
    # frame is (group, key, weight)-sized, cheap to store, and both
    # branches build straight from it.
    gnames = list(group_cols)
    slim = _slim(df, gnames, spec, key_col, value_col,
                 key_expr).localCheckpoint(eager=False)
    heavy = F.broadcast(heavy_groups.select(*gnames).distinct())
    head = _merged_partials(slim.join(heavy, gnames), gnames, spec)
    tail = _per_group(slim.join(heavy, gnames, "left_anti"), gnames, spec)
    return head.unionByName(tail)


def cms_per_group_bucketed(df: DataFrame, group_cols: list[str], depth: int,
                           width: int, seed: int,
                           key_col: str,
                           weight_col: str | None = None) -> DataFrame:
    """-> [group_cols..., sketch] — CMS profile per group with the bucket

    computation INSIDE Catalyst: per-depth bucket indices are
    ``pmod(xxhash64(key, seed, i), width)`` (the 'xxh' kernel family, bit-
    identical in NumPy — core/hashing.xxh_rows), aggregated JVM-side to
    (group, depth, bucket, weight). At most ``groups x depth x width``
    rows ever cross Arrow REGARDLESS of input size — vs the generic
    ``sketch_per_group`` path that ships one row per distinct (group,
    key). For token/url co-occurrence profiles at corpus scale this is
    the difference between ~10^8 and ~10^6 Arrow rows.

    Byte-identical to ``sketch_per_group(df, ..., cms_spec_shape(depth,
    width, seed, family="xxh"), key_col=...)`` (pytest-pinned).
    """
    key = _sketch_key(df, key_col)
    gnames = list(group_cols)
    # stage 1: collapse the raw stream to (group, key) weights FIRST
    # (map-side combine does most of it before any shuffle) — the x depth
    # bucket explode then runs on the collapsed pairs, not on every
    # occurrence
    w1 = (F.sum(F.col(weight_col).cast("double")) if weight_col else
          F.count("*").cast("double")).alias("__w")
    src = df.select(*gnames, key.alias("__k"),
                    *([F.col(weight_col)] if weight_col else []))
    if weight_col is None:
        # count weights are exact in float64 under any partitioning, so a
        # narrow scan can be widened (guide §2.5); a general double
        # weight sum is addition-order sensitive in the last ulp, so the
        # weighted path keeps its input partitioning
        from mahout_spark.plans.scaleio import widen_partitions

        src = widen_partitions(src)
    pairs = src.groupBy(*gnames, "__k").agg(w1)
    buckets = F.array(*[
        F.pmod(F.xxhash64(F.col("__k"), F.lit(seed).cast("long"),
                          F.lit(i).cast("long")), F.lit(width))
        for i in range(depth)])
    ex = pairs.select(*gnames, "__w",
                      F.posexplode(buckets).alias("__d", "__b"))
    cells = (ex.groupBy(*gnames, "__d", "__b")
             .agg(F.sum("__w").alias("__w")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        counts = np.zeros((depth, width))
        counts[pdf["__d"].to_numpy(dtype=np.int64),
               pdf["__b"].to_numpy(dtype=np.int64)] = \
            pdf["__w"].to_numpy(dtype=np.float64)
        s = CountMinSketch(depth=depth, width=width, seed=seed,
                           counts=counts, family="xxh")
        return _head_row(pdf, gnames, s.serialize())

    return cells.groupBy(*gnames).applyInPandas(
        build, schema=_sketch_schema(cells, gnames))


def merge_sketch_rows(sketch_df: DataFrame, spec: SketchSpec,
                      group_cols: list[str] | None = None) -> DataFrame:
    """Merge ALREADY-BUILT sketch rows into coarser groups (or one row).

    The mergeability dividend: a global sketch is the associative merge of
    per-group sketches — no second pass over raw data. ``group_cols=None``
    merges everything to a single-row [sketch] DataFrame.
    """
    gnames = group_cols or []
    src = sketch_df.select(*gnames, "sketch") if gnames \
        else sketch_df.select(F.lit(0).alias("__g"), "sketch")
    keys = gnames or ["__g"]

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return _head_row(pdf, keys, _merge_blobs(spec, pdf["sketch"]))

    out = src.groupBy(*keys).applyInPandas(merge,
                                           schema=_sketch_schema(src, keys))
    return out if gnames else out.drop("__g")


def sketch_rollup(sketch_df: DataFrame, spec: SketchSpec, dims: list[str],
                  total_marker: str = "*") -> DataFrame:
    """SQL ``ROLLUP(dims...)`` over an ALREADY-BUILT fine-grain sketch

    table: one output row per group at every prefix level of ``dims``
    (finest → ... → grand total), each holding the merged sketch for
    that level; collapsed dims emit ``total_marker``. This is the
    sketch-table-as-data-cube move: every rollup level is answered by
    merging sketch BLOBS, never rescanning the raw corpus — the only
    way a distinct-count cube is affordable at 100 TB, since exact
    distincts don't add across groups but HLL registers do.

    Plan shape: the fine table is persisted (built once; it is one row
    per fine group) and each coarser level merges the PREVIOUS level's
    output — a chain, so level k merges at most |level k+1| rows and
    the union's branches all read the tiny cached tables, not k copies
    of the corpus-scan subtree. Hierarchical merging is exact for the
    merge-order-independent kinds (CMS/Count-Sketch cell addition, HLL
    register max, theta set union — byte-identical to a direct build,
    pytest-pinned) and within published bounds for KLL/t-digest. Dims
    are emitted as strings (marker needs a common type). Priority
    samples ('psk') roll up exactly only when the fine groups' key
    spaces are DISJOINT (e.g. doc ids under a partitioning dim): a key
    present in two groups may have been evicted from one, and its
    merged weight is then an undercount (core/priority.py merge
    contract).
    """
    levels = []
    cur = sketch_df
    for i in range(len(dims), -1, -1):
        cur = merge_sketch_rows(cur, spec,
                                group_cols=dims[:i] or None).persist()
        cols = [F.col(d).cast("string").alias(d) for d in dims[:i]] + \
               [F.lit(total_marker).alias(d) for d in dims[i:]]
        levels.append(cur.select(*cols, "sketch"))
    out = levels[0]
    for extra in levels[1:]:
        out = out.unionByName(extra)
    return out


def sketch_global(df: DataFrame, spec: SketchSpec, key_col: str | None = None,
                  value_col: str | None = None, n_salt: int = 8,
                  key_expr: F.Column | None = None) -> bytes:
    """One sketch over the whole DataFrame (driver-side result) via the

    salted two-level merge — never funnels raw rows to the driver.
    """
    with_g = df.withColumn("__g", F.lit(0))
    out = sketch_by_key(with_g, ["__g"], spec, key_col, value_col,
                        n_salt=n_salt, key_expr=key_expr)
    return bytes(out.collect()[0]["sketch"])
