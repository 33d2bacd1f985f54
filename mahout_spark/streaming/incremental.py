"""Incremental sketch maintenance — Structured Streaming foreachBatch.

The reference has NO streaming engine (SURVEY.md §2.7); its closest shape
is the one-pass accumulator (OnlineSummarizer.java:52-60). Mergeable
sketches make streaming maintenance trivial-by-construction: each
micro-batch builds partial sketches (the same two-phase ``sketch_by_key``
the batch path uses) and merges them into a persistent sketch store —
associativity means arrival order and batch boundaries cannot change the
result, which the tests assert byte-for-byte against a batch rebuild.

Exactly-once across foreachBatch replays: the store records the last
merged ``batch_id``; a replayed batch (same id) is skipped, so failure
recovery cannot double-count. The store is two generations deep
(``state_a``/``state_b`` alternating) so a crash mid-write leaves the
previous generation intact.

At production scale the same code runs with a real source (Kafka, files
arriving in a crawl bucket) and a continuous trigger; tests use
``availableNow`` over a parquet directory.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from mahout_spark.sketch.agg import (SketchSpec, merge_sketch_rows,
                                     sketch_by_key)


def _meta_path(store_dir: str) -> str:
    return os.path.join(store_dir, "_meta.json")


def _read_meta(store_dir: str) -> dict:
    try:
        with open(_meta_path(store_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"batch_id": -1, "gen": "state_a"}


def read_sketch_store(spark: SparkSession, store_dir: str) -> DataFrame | None:
    meta = _read_meta(store_dir)
    if meta["batch_id"] < 0:
        return None
    return spark.read.parquet(os.path.join(store_dir, meta["gen"]))


def incremental_sketch_stream(spark: SparkSession, source_dir: str,
                              store_dir: str, stream_checkpoint: str,
                              group_cols: list[str], spec: SketchSpec,
                              key_col: str | None = None,
                              value_col: str | None = None,
                              schema=None,
                              max_files_per_trigger: int | None = None):
    """Run an availableNow pass: merge all unseen source files into the

    sketch store. Returns after the stream drains. Call again as new files
    arrive (or switch the trigger for continuous operation)."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        meta = _read_meta(store_dir)
        if batch_id <= meta["batch_id"]:
            return  # replayed batch — already merged (exactly-once)
        partials = sketch_by_key(batch_df, group_cols, spec,
                                 key_col=key_col, value_col=value_col)
        prev = None
        if meta["batch_id"] >= 0:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(store_dir, meta["gen"]))
        merged = merge_sketch_rows(
            partials if prev is None else partials.unionByName(prev), spec,
            group_cols)
        next_gen = "state_b" if meta["gen"] == "state_a" else "state_a"
        merged.write.mode("overwrite").parquet(
            os.path.join(store_dir, next_gen))
        os.makedirs(store_dir, exist_ok=True)
        with open(_meta_path(store_dir), "w") as f:
            json.dump({"batch_id": batch_id, "gen": next_gen}, f)

    q = (stream.writeStream.foreachBatch(upsert)
         .option("checkpointLocation", stream_checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return read_sketch_store(spark, store_dir)
