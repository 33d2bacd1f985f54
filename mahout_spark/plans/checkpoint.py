"""Checkpoint / lineage / resume protocol for long sketch scans.

North rule: "every partition emits lineage + counter metrics to a
checkpoint table so jobs resume mid-scan." At 10^12 documents a sketch
build is a multi-hour scan; this module shards the scan deterministically,
persists per-shard partial sketches plus lineage metrics, and resumes by
recomputing only missing shards. Because every sketch merge is associative
and the shard assignment is a pure hash of the row key, resume produces
byte-identical final sketches (asserted in tests).

The reference's only memoization is CountMinSketchConfig's ``ser/*.ser``
files (CountMinSketchConfig.java:74-113) — single-JVM, config-only. This
is the distributed generalization: the checkpoint table doubles as the
config/lineage store.

Layout under ``root/<job_id>/``:
- ``partials/shard=<k>/``  parquet: (group..., sketch binary) per shard;
- ``lineage/``             parquet: one row per completed shard —
  (job_id, shard, n_rows, n_groups, sketch_md5, wall_s, spark_conf_hash).

Determinism: shard = pmod(xxhash64(shard_key), n_shards). Lineage rows are
written AFTER the shard's partials land (write-then-commit ordering), so a
killed job never records an incomplete shard.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_spark.sketch.agg import (SketchSpec, merge_sketch_rows,
                                     sketch_by_key)

LINEAGE_SCHEMA = ("job_id string, shard int, n_rows long, n_groups long, "
                  "sketch_md5 string, wall_s double")


class CheckpointedSketchJob:
    """Resumable sharded sketch build: ``run`` computes only shards absent

    from the lineage table, then merges all partials per group."""

    def __init__(self, spark: SparkSession, root: str, job_id: str,
                 n_shards: int = 16):
        self.spark = spark
        self.root = root
        self.job_id = job_id
        self.n_shards = n_shards
        self.base = os.path.join(root, job_id)
        self.lineage_path = os.path.join(self.base, "lineage")
        self.partials_path = os.path.join(self.base, "partials")
        self.shards_computed: list[int] = []  # this invocation only

    # -- lineage ----------------------------------------------------------
    def completed_shards(self) -> set[int]:
        if not os.path.exists(self.lineage_path):
            return set()
        rows = self.spark.read.parquet(self.lineage_path) \
            .filter(F.col("job_id") == self.job_id).select("shard").collect()
        return {r["shard"] for r in rows}

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)

    def _append_lineage(self, shard: int, n_rows: int, n_groups: int,
                        sketch_md5: str, wall_s: float) -> None:
        row = [(self.job_id, shard, n_rows, n_groups, sketch_md5,
                float(wall_s))]
        (self.spark.createDataFrame(row, LINEAGE_SCHEMA)
         .write.mode("append").parquet(self.lineage_path))

    # -- run / resume ------------------------------------------------------
    def run(self, df: DataFrame, group_cols: list[str], spec: SketchSpec,
            key_col: str | None = None, value_col: str | None = None,
            shard_key: str | None = None, max_shards: int | None = None,
            key_expr=None) -> DataFrame | None:
        """Compute/resume. ``shard_key``: column whose hash defines the

        shard (defaults to key_col). ``max_shards``: stop early after
        computing this many new shards (simulates preemption; returns None
        if the job is still incomplete). Returns the merged sketch table
        once all shards are present.
        """
        shard_col = F.pmod(F.xxhash64(F.col(shard_key or key_col)),
                           F.lit(self.n_shards)).cast("int")
        done = self.completed_shards()
        todo = [s for s in range(self.n_shards) if s not in done]
        budget = max_shards if max_shards is not None else len(todo)
        batch = todo[:budget]

        if batch:
            t0 = time.time()
            # ONE pass over the input builds every missing shard's partials
            # (partitionBy("shard") -> the same partials/shard=<k>/ layout),
            # instead of one full filter-scan per shard. Dynamic partition
            # overwrite leaves completed shards untouched.
            part = (df.withColumn("shard", shard_col)
                    .filter(F.col("shard").isin([int(s) for s in batch])))
            sk = sketch_by_key(part, ["shard"] + group_cols, spec,
                               key_col=key_col, value_col=value_col,
                               key_expr=key_expr)
            (sk.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("shard").parquet(self.partials_path))

            # metrics read back from what actually landed (write-then-
            # commit): per-shard group counts + an order-insensitive blob
            # digest, all JVM-side (sorted per-blob md5s re-hashed) — only
            # #shards tiny rows ever reach the driver.
            landed = (self.spark.read.parquet(self.partials_path)
                      .filter(F.col("shard").isin([int(s) for s in batch])))
            mets = {r["shard"]: r for r in
                    (landed.groupBy("shard")
                     .agg(F.count("*").alias("n_groups"),
                          F.md5(F.concat_ws(",", F.sort_array(
                              F.collect_list(F.md5("sketch"))))).alias("md5"))
                     .collect())}
            # row counts per shard: a second, shard-key-column-pruned scan
            # (reads ONE column; the full-width scan above runs once)
            cnt_src = df.select(shard_col.alias("shard"))
            counts = {r["shard"]: r["n"] for r in
                      (cnt_src.filter(F.col("shard").isin(
                          [int(s) for s in batch]))
                       .groupBy("shard").agg(F.count("*").alias("n"))
                       .collect())}
            wall = time.time() - t0
            for shard in batch:
                m = mets.get(shard)
                self._append_lineage(
                    shard, int(counts.get(shard, 0)),
                    int(m["n_groups"]) if m else 0,
                    m["md5"] if m else "", wall / max(1, len(batch)))
                self.shards_computed.append(shard)

        if len(self.completed_shards()) < self.n_shards:
            return None  # preempted — next invocation resumes

        return self._merge(spec, group_cols)

    def _merge(self, spec: SketchSpec, group_cols: list[str]) -> DataFrame:
        partials = self.spark.read.parquet(
            os.path.join(self.partials_path, "shard=*"))
        return merge_sketch_rows(partials, spec, group_cols)
