"""spark-submit job: clustering CLI twins — `mahout kmeans`,

`mahout fuzzykmeans`, `mahout canopy`, `mahout streamingkmeans`.

Reference anchors (studied, not copied):
  mr/.../clustering/kmeans/KMeansDriver.java (options -k, --maxIter,
  --convergenceDelta, --clustering for the final assignment pass),
  fuzzykmeans/FuzzyKMeansDriver.java (-m fuzziness),
  canopy/CanopyDriver.java (-t1, -t2),
  streaming/.../StreamingKMeansDriver.java (--estimatedNumMapClusters).

Usage:
  spark-submit --py-files dist/mahout_spark.zip jobs/clustering.py \
      kmeans --input points.parquet --output /tmp/clusters \
      -k 5 [--max-iterations 20] [--convergence-delta 1e-4] [--canopy]
      [--t1 3.0 --t2 1.5]
  ... fuzzykmeans --input ... -k 5 [-m 2.0]
  ... canopy --input ... --t1 3.0 --t2 1.5
  ... streamingkmeans --input ... -k 5 [--final-iterations 20]

Input: parquet with (vec_id, embedding array<double>) — override with
--id-col/--vec-col. Output directory gets model.json (centers +
metadata) and, for kmeans/fuzzykmeans, an assignments/ parquet
(the KMeansDriver --clustering pass).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["kmeans", "fuzzykmeans", "canopy",
                                     "streamingkmeans", "spectralkmeans"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("-k", type=int, default=5)
    ap.add_argument("-m", type=float, default=2.0)
    ap.add_argument("--t1", type=float, default=3.0)
    ap.add_argument("--t2", type=float, default=1.5)
    ap.add_argument("--max-iterations", type=int, default=20)
    ap.add_argument("--convergence-delta", type=float, default=1e-4)
    ap.add_argument("--final-iterations", type=int, default=20,
                    help="streamingkmeans: weighted-Lloyd finish passes")
    ap.add_argument("--canopy", action="store_true",
                    help="kmeans: seed centers from a canopy pass")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args(argv)

    from mahout_spark.operators.clustering import (canopy, fuzzy_kmeans,
                                                   kmeans, streaming_kmeans)
    from mahout_spark.session import get_spark

    spark = get_spark(f"clustering_{args.mode}",
                      master=f"local[{args.cpus}]",
                      shuffle_partitions=max(args.cpus * 2, 32))
    spark.sparkContext.setLogLevel("ERROR")
    points = spark.read.parquet(args.input)
    os.makedirs(args.output, exist_ok=True)

    t0 = time.time()
    meta: dict = {"mode": args.mode}
    if args.mode == "canopy":
        centers = canopy(points, args.t1, args.t2,
                         id_col=args.id_col, vec_col=args.vec_col)
        meta.update({"t1": args.t1, "t2": args.t2,
                     "n_canopies": len(centers)})
    elif args.mode == "spectralkmeans":
        # input: symmetric affinity triples (row_id, col_id, value);
        # SpectralKMeansDriver's pipeline over our own operators
        from mahout_spark.operators.clustering import spectral_kmeans

        from pyspark.sql import functions as F

        n = 1 + int(points.agg(
            F.greatest(F.max("row_id"), F.max("col_id"))
            .alias("m")).collect()[0]["m"])
        model, embedding = spectral_kmeans(points, n, args.k,
                                           max_iterations=args.max_iterations,
                                           convergence_delta=args.convergence_delta,
                                           seed=args.seed)
        centers = model.centers
        meta.update({"k": len(model.centers), "n": n,
                     "iterations": model.iterations,
                     "converged": model.converged})
        model.assign(embedding, "vec_id", "embedding") \
            .write.mode("overwrite").parquet(f"{args.output}/assignments")
    elif args.mode == "streamingkmeans":
        model = streaming_kmeans(
            points, args.k, final_iterations=args.final_iterations,
            seed=args.seed, id_col=args.id_col, vec_col=args.vec_col)
        centers = model.centers
        meta.update({"k": args.k, "iterations": model.iterations,
                     "converged": model.converged})
        model.assign(points, args.id_col, args.vec_col) \
            .write.mode("overwrite").parquet(f"{args.output}/assignments")
    else:
        init = None
        if args.canopy:
            init = canopy(points, args.t1, args.t2,
                          id_col=args.id_col, vec_col=args.vec_col)
            meta["canopy_seeded_k"] = len(init)
        if args.mode == "kmeans":
            model = kmeans(points, args.k if init is None else len(init),
                           max_iterations=args.max_iterations,
                           convergence_delta=args.convergence_delta,
                           seed=args.seed, id_col=args.id_col,
                           vec_col=args.vec_col, init_centers=init)
            meta.update({"k": len(model.centers),
                         "iterations": model.iterations,
                         "converged": model.converged, "cost": model.cost})
            centers = model.centers
            model.assign(points, args.id_col, args.vec_col) \
                .write.mode("overwrite") \
                .parquet(f"{args.output}/assignments")
        else:
            model = fuzzy_kmeans(points,
                                 args.k if init is None else len(init),
                                 m=args.m,
                                 max_iterations=args.max_iterations,
                                 convergence_delta=args.convergence_delta,
                                 seed=args.seed, id_col=args.id_col,
                                 vec_col=args.vec_col, init_centers=init)
            meta.update({"k": len(model.centers), "m": args.m,
                         "iterations": model.iterations,
                         "converged": model.converged})
            centers = model.centers
            model.memberships(points, args.id_col, args.vec_col) \
                .write.mode("overwrite") \
                .parquet(f"{args.output}/assignments")

    meta["wall_s"] = round(time.time() - t0, 2)
    meta["centers"] = [list(map(float, c)) for c in centers]
    with open(f"{args.output}/model.json", "w") as f:
        json.dump(meta, f)
    print(json.dumps({k: v for k, v in meta.items() if k != "centers"}))
    spark.stop()


if __name__ == "__main__":
    main()
