"""Extra benchmarks for optimization work (guide §1): per-query isolation
with the noop sink, per-stage accounting from the event log, and
``.explain("formatted")`` capture.

bench.py is FROZEN for measurement; this file holds the diagnostics the
optimization round needs. Usage:

  python bench_extra.py --queries llr_itemsim_lineitem rowsim_cosine \
      --reps 3 --plans plans/r06 --suffix before

Prints per-query seconds (all reps) plus a per-stage table (stage wall,
task time, shuffle bytes) grouped by job description, and writes
``<plans>/<query>_<suffix>.txt`` formatted plans.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.dump_plans import formatted  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVDIR = "/tmp/spark-events-bench-extra"


# ---------------------------------------------------------------------------
# Lazy builders returning the DataFrame(s) each bench query materializes —
# mirrors bench.py exactly, but returns the frames so we can explain() them.
# ---------------------------------------------------------------------------

def frames_cms(spark, sf_dir):
    from pyspark.sql import functions as F

    from mahout_spark.functions.text import tokens_array
    from mahout_spark.sketch.agg import (cms_spec, cms_spec_shape,
                                         sketch_by_key,
                                         sketch_per_group_skewed)
    from mahout_spark.sketch.queries import cms_pairwise, cms_topk_cosine

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = docs.select(
        "doc_id", "lang",
        F.explode(tokens_array(F.col("text"))).alias("token"))
    tl = (toks.groupBy("lang", "token")
          .agg(F.count("*").cast("double").alias("cnt")).persist())
    sk = sketch_by_key(tl, ["lang"], cms_spec(eps=0.001, delta=0.01),
                       key_col="token", value_col="cnt", n_salt=4)
    yield "cms_pairwise", cms_pairwise(sk, "lang", kind="cosine")
    head_counts = (tl.groupBy("token").agg(F.sum("cnt").alias("count"))
                   .orderBy(F.desc("count"), "token").limit(1000).persist())
    head = head_counts.select("token")
    heavy = (head_counts.orderBy(F.desc("count"), "token").limit(32)
             .select("token"))
    profiles = sketch_per_group_skewed(
        toks.join(F.broadcast(head), "token"), ["token"],
        cms_spec_shape(4, 512, seed=2), heavy, key_col="doc_id")
    yield "cms_topk", cms_topk_cosine(profiles, "token", k=10)
    docs.count()
    tl.unpersist()
    head_counts.unpersist()


def frames_llr(spark, sf_dir):
    from pyspark.sql import functions as F

    from mahout_spark.operators.cooccurrence import llr_item_similarity

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    triples = li.select(F.col("l_orderkey").alias("row_id"),
                        F.col("l_partkey").alias("col_id"))
    yield "llr", llr_item_similarity(triples, k=10, downsample=True)


def frames_rowsim(spark, sf_dir):
    from pyspark.sql import functions as F

    from mahout_spark.operators.rowsim import row_similarity

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    triples = (li.groupBy(F.col("l_orderkey").alias("row_id"),
                          F.col("l_partkey").alias("col_id"))
               .agg(F.sum("l_quantity").alias("value")))
    yield "rowsim", row_similarity(triples, measure="cosine", k=10)


def frames_minhash(spark, sf_dir):
    from mahout_spark.operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    yield "minhash", minhash_dedup_pairs(docs, "doc_id", "text",
                                         num_perm=16, bands=4, threshold=0.5)


def frames_tfidf(spark, sf_dir):
    from mahout_spark.operators.vectorize import tfidf

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    yield "tfidf", tfidf(docs, variant="mahout")


def frames_ann(spark, sf_dir):
    from pyspark.sql import functions as F

    from mahout_spark.operators.ann import brute_force_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = (emb.filter(F.col("vec_id") < 50)
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    yield "ann", brute_force_topk(emb, q, k=10)


def frames_quantiles(spark, sf_dir):
    from mahout_spark.sketch.agg import sketch_by_key, tdigest_spec
    from mahout_spark.sketch.queries import sketch_eval

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    spec = tdigest_spec(100.0, dedup_values=True)
    sk = sketch_by_key(li, ["l_returnflag"], spec,
                       value_col="l_extendedprice")
    yield "quantiles", sketch_eval(sk, spec, "quantile", "qv", args=(0.5,))


FRAMES = {
    "cms_build_topk_cosine": frames_cms,
    "llr_itemsim_lineitem": frames_llr,
    "rowsim_cosine": frames_rowsim,
    "minhash_dedup": frames_minhash,
    "tfidf": frames_tfidf,
    "ann_topk": frames_ann,
    "quantile_sketches": frames_quantiles,
}


def run_query(spark, name, sf_dir, label_prefix=""):
    """Materialize every frame of one bench query via the noop sink."""
    t0 = time.time()
    for sub, df in FRAMES[name](spark, sf_dir):
        spark.sparkContext.setJobDescription(f"{label_prefix}{name}:{sub}")
        df.write.format("noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)
    dt = time.time() - t0
    spark.catalog.clearCache()
    return dt


def dump_plans(spark, names, plandir, suffix):
    os.makedirs(plandir, exist_ok=True)
    for name in names:
        txts = []
        for sub, df in FRAMES[name](spark, SF_DIR):
            txts.append(f"== {name}:{sub} ==\n" + formatted(df))
        spark.catalog.clearCache()
        path = os.path.join(plandir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write("\n\n".join(txts))
        print(f"wrote {path}")


def _all_event_lines(evdir):
    for p in sorted(glob.glob(os.path.join(evdir, "*"))):
        if os.path.isdir(p):
            for q in sorted(glob.glob(os.path.join(p, "events_*"))):
                with open(q) as f:
                    yield from f
        else:
            with open(p) as f:
                yield from f


def parse_stages(evdir):
    stages = {}
    jobs = {}  # job id -> description
    stage_job = {}
    for line in _all_event_lines(evdir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        k = ev.get("Event")
        if k == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            jobs[ev["Job ID"]] = desc
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif k == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "stage": si["Stage ID"],
                "name": si["Stage Name"].split("\n")[0][:60],
                "submit": si.get("Submission Time", 0),
                "complete": 0, "tasks": 0, "run_ms": 0,
                "input_b": 0, "sh_read_b": 0, "sh_write_b": 0,
                "desc": jobs.get(stage_job.get(si["Stage ID"]), ""),
            }
        elif k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stages:
                stages[si["Stage ID"]]["complete"] = si.get(
                    "Completion Time", 0)
                stages[si["Stage ID"]]["submit"] = si.get(
                    "Submission Time", stages[si["Stage ID"]]["submit"])
        elif k == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if st is None or not tm:
                continue
            st["tasks"] += 1
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["gc_ms"] = st.get("gc_ms", 0) + tm.get("JVM GC Time", 0)
            st["deser_ms"] = st.get("deser_ms", 0) + tm.get(
                "Executor Deserialize Time", 0)
            st["input_b"] += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["sh_read_b"] += (sr.get("Local Bytes Read", 0)
                                + sr.get("Remote Bytes Read", 0))
            st["sh_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return sorted(stages.values(), key=lambda s: s["stage"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=list(FRAMES))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="directory to write formatted plans into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--stages", action="store_true",
                    help="print per-stage accounting from the event log")
    ap.add_argument("--no-run", action="store_true",
                    help="only dump plans")
    args = ap.parse_args()

    if os.path.isdir(EVDIR):
        shutil.rmtree(EVDIR)
    if args.stages:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = EVDIR

    from mahout_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS * 2, 16))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    if args.plans:
        dump_plans(spark, args.queries, args.plans, args.suffix)
    if args.no_run:
        return

    results = {}
    for rep in range(args.reps):
        for name in args.queries:
            dt = run_query(spark, name, SF_DIR, label_prefix=f"r{rep}|")
            results.setdefault(name, []).append(round(dt, 3))
    print(json.dumps({"queries": results,
                      "mins": {n: min(v) for n, v in results.items()}}))

    if args.stages:
        spark.stop()
        time.sleep(1)
        stages = parse_stages(EVDIR)
        print("| stage | wall_ms | tasks | task_ms | gc_ms | deser_ms | "
              "in_MB | shr_MB | shw_MB | desc | name |")
        print("|---|---|---|---|---|---|---|---|---|---|---|")
        for st in stages:
            wall = (st["complete"] - st["submit"]) if st["complete"] else 0
            print(f"| {st['stage']} | {wall} | {st['tasks']} "
                  f"| {st['run_ms']} | {st.get('gc_ms', 0)} "
                  f"| {st.get('deser_ms', 0)} "
                  f"| {st['input_b']/1e6:.1f} "
                  f"| {st['sh_read_b']/1e6:.1f} "
                  f"| {st['sh_write_b']/1e6:.1f} | {st['desc'][:28]} "
                  f"| {st['name']} |")


if __name__ == "__main__":
    main()
