"""Streaming near-duplicate detection — incremental MinHash-LSH.

The reference has no streaming engine (SURVEY §2.7); this is the
builder-brief pipeline's dedup stage (operators/dedup.py) re-expressed
for Structured Streaming so a crawl can be deduplicated AS IT ARRIVES:

1. signatures are ROW-LOCAL column expressions on the stream —
   ``array_min(transform(shingles, xxhash64(..., perm_seed)))`` per
   permutation — value-identical to the batch ``minhash_signatures``
   "fast" family (min over the doc's distinct shingles), but with no
   per-doc aggregation, so the pre-state pipeline stays stateless;
2. each (band, band_hash) bucket keeps its member ids + signatures in
   ``applyInPandasWithState``; a micro-batch's new members emit pairs
   against the existing members and among themselves — each unordered
   pair exactly once per band (cross-band duplicates carry the band
   column; the sink dedups, mirroring the batch path's ``distinct``);
3. buckets that exceed ``max_bucket`` members go DEAD: state collapses
   to a tombstone and the bucket never emits again — the same
   boilerplate-bucket guard as the batch path, bounded state by
   construction.

Batch parity: running the stream over the same corpus (any batch
boundaries) yields exactly the batch pipeline's candidate pair set for
buckets under the cap — asserted set-equal in tests. Estimated Jaccard
(fraction of agreeing signature components) accompanies every pair, so
a threshold filter composes downstream exactly like the batch
``minhash_dedup_pairs``.

State size: O(members × num_perm) per live bucket, capped by
max_bucket; the state key space is the (band, band_hash) buckets —
the same cardinality the batch shuffle carries.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StringType,
                               StructField, StructType)

from mahout_spark.functions.text import shingles_from_tokens, tokens_array


def rowlocal_minhash_sigs(docs: DataFrame, id_col: str, text_col: str,
                          num_perm: int = 16, shingle_n: int = 3,
                          seed: int = 1,
                          family: str = "fast") -> DataFrame:
    """(id, sigs array<long>) — per-row MinHash, no aggregation.

    Value-identical to minhash_signatures(family=...): min over the
    doc's DISTINCT shingles of xxhash64(shingle, perm_seed) ('fast') or
    the affine permutations of the md5-derived 60-bit key ('parity' —
    the DuckDB-replayable family the streaming gate uses)."""
    # project the tokens, then the distinct shingles, once: inlined into
    # each of the num_perm transforms they would be recomputed per
    # permutation. A doc with fewer than shingle_n tokens has no shingles,
    # hence no signature.
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens_array(F.col(text_col)).alias("__t"))
    docs = (toks.filter(F.size("__t") >= shingle_n)
            .select("doc_id", F.array_distinct(shingles_from_tokens(
                F.col("__t"), shingle_n)).alias("__sh")))
    sh = F.col("__sh")

    def perm(i):
        # single-parameter closure: a 2-arg lambda would make
        # F.transform pass the ARRAY INDEX as the second argument
        return lambda s: F.xxhash64(s, F.lit(seed * 1_000_003 + i))

    if family == "fast":
        sigs = F.array(*[F.array_min(F.transform(sh, perm(i)))
                         for i in range(num_perm)])
    else:
        from mahout_spark.functions.hashutil import (affine_minhash,
                                                     md5_long60,
                                                     minhash_params)
        params = minhash_params(num_perm, seed)
        docs = docs.select("doc_id", F.transform(
            sh, lambda s: md5_long60(s)).alias("__hs"))
        hs = F.col("__hs")

        def aff(a, b):
            return lambda h: affine_minhash(h, a, b)

        sigs = F.array(*[F.array_min(F.transform(hs, aff(a, b)))
                         for a, b in params])
    return docs.select("doc_id", sigs.alias("sigs"))


def streaming_minhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_perm: int = 16,
                            bands: int = 4, shingle_n: int = 3,
                            seed: int = 1, max_bucket: int = 1000,
                            family: str = "fast",
                            output_mode: str = "update") -> DataFrame:
    """Streaming (band, id_a, id_b, est_jaccard) near-dup pairs.

    ``docs`` may be a streaming OR batch DataFrame (the state function
    is identical; batch mode is how the parity tests replay it).
    Write with the matching outputMode (emitted pairs are final
    either way — pass output_mode='append' for file sinks); dedup pairs
    across bands at the sink (or pipe into dedup_groups for group
    resolution).
    """
    rows = num_perm // bands
    if bands * rows != num_perm:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    sigs = rowlocal_minhash_sigs(docs, id_col, text_col, num_perm,
                                 shingle_n, seed, family=family)
    band_frames = []
    for b in range(bands):
        cols = [F.col("sigs")[b * rows + r].cast("string")
                for r in range(rows)]
        band_frames.append(sigs.select(
            "doc_id", "sigs", F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *cols)).alias("bh")))
    banded = band_frames[0]
    for bf in band_frames[1:]:
        banded = banded.unionByName(bf)

    out_schema = StructType([
        StructField("band", LongType()), StructField("id_a", StringType()),
        StructField("id_b", StringType()),
        StructField("est_jaccard", DoubleType()),
    ])
    state_schema = StructType([
        StructField("ids", ArrayType(StringType())),
        StructField("sigs", ArrayType(ArrayType(LongType()))),
        StructField("dead", LongType()),
    ])

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState):
        band = int(key[0])
        if state.exists:
            ids, sig_lists, dead = state.get
            ids = list(ids)
            sig_lists = [list(s) for s in sig_lists]
        else:
            ids, sig_lists, dead = [], [], 0
        out_a, out_b, out_j = [], [], []
        for pdf in pdfs:
            if dead:
                continue
            # deterministic processing order inside the batch
            pdf = pdf.sort_values("doc_id", kind="mergesort")
            for doc_id, sg in zip(pdf["doc_id"], pdf["sigs"]):
                doc_id = str(doc_id)
                if doc_id in ids:
                    continue  # replay / duplicate doc
                sg = [int(x) for x in sg]
                for other_id, other_sg in zip(ids, sig_lists):
                    eq = sum(1 for x, y in zip(sg, other_sg) if x == y)
                    a, b = sorted((doc_id, other_id))
                    out_a.append(a)
                    out_b.append(b)
                    out_j.append(eq / float(num_perm))
                ids.append(doc_id)
                sig_lists.append(sg)
                if len(ids) > max_bucket:
                    # boilerplate bucket: tombstone, emit nothing
                    ids, sig_lists, dead = [], [], 1
                    out_a, out_b, out_j = [], [], []
                    break
        state.update((ids, sig_lists, dead))
        yield pd.DataFrame({"band": band, "id_a": out_a, "id_b": out_b,
                            "est_jaccard": out_j})

    return banded.groupBy("band", "bh").applyInPandasWithState(
        update, outputStructType=out_schema,
        stateStructType=state_schema, outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout)
