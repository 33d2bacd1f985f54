"""Distributed k-means over vector DataFrames (id, array<double>).

Reference anchors (studied, not copied):
- mr/.../clustering/kmeans/KMeansDriver.java:82-150 (driver loop:
  convergenceDelta, maxIterations, optional final classification pass)
- mr/.../clustering/kmeans/RandomSeedGenerator.java (seed centroids =
  k random input points; here a deterministic hash pick so every run
  and every retry chooses the same seeds)
- mr/.../clustering/kmeans/Kluster.java:88-95 (converged when
  distance(old center, new centroid) <= delta, per cluster)
- mr/.../clustering/iterator/CIMapper/CIReducer (one MR pass per
  iteration: assign + partial sums; here assignment is a pure Catalyst
  expression over literal centroids and the recompute is one
  posexplode + groupBy avg — map-side combined, one shuffle of
  k x dim x n_partitions partial rows)

Scale: per-iteration state is k x dim doubles on the driver (same
contract as MLlib KMeans); the data never leaves executors. Assignment
stays inside whole-stage codegen — no Python, no UDF.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _sq_dist_expr(vec: Column, center: np.ndarray) -> Column:
    carr = F.array(*[F.lit(float(x)) for x in center])
    return F.aggregate(
        F.zip_with(vec.cast("array<double>"), carr,
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _measure_expr(vec: Column, center: np.ndarray, measure: str) -> Column:
    """Distance expression for one literal centroid; 'squared' keeps the

    historical fast path, anything else resolves through the pluggable
    DistanceMeasure registry (functions/distance.py) — the reference's
    KMeansDriver takes any DistanceMeasure for assignment while the
    update remains the mean."""
    if measure == "squared":
        return _sq_dist_expr(vec, center)
    from mahout_spark.functions.distance import DISTANCES

    carr = F.array(*[F.lit(float(x)) for x in center])
    return DISTANCES[measure](vec.cast("array<double>"), carr)


def assign_expr(vec: Column, centers: np.ndarray,
                measure: str = "squared") -> Column:
    """struct(cluster int, dist2 double) — argmin over literal centroids,

    ties to the lowest cluster id (array_sort on (dist, id) structs, the
    IVF probe_cells_expr shape). Pure Catalyst: the per-iteration
    centroid state is inlined as literals, identical on every executor.
    ``dist2`` carries the chosen measure's value (squared euclidean by
    default).
    """
    entries = [F.struct(_measure_expr(vec, c, measure).alias("d"),
                        F.lit(i).alias("c"))
               for i, c in enumerate(centers)]
    best = F.array_sort(F.array(*entries))[0]
    return F.struct(best["c"].alias("cluster"), best["d"].alias("dist2"))


# above this many inlined literals the codegen'd argmin expression
# bloats the plan; switch to the broadcast-join + min_by form
MAX_EXPR_LITERALS = 20_000


def _assign_frame(points: DataFrame, centers: np.ndarray, id_col: str,
                  vec_col: str, measure: str = "squared") -> DataFrame:
    """(id, vec, cluster, dist2) under either assignment regime."""
    k, dim = centers.shape
    if k * dim <= MAX_EXPR_LITERALS:
        a = assign_expr(F.col(vec_col), centers, measure)
        return points.select(F.col(id_col), F.col(vec_col),
                             a.alias("__a")) \
            .select(id_col, vec_col, "__a.cluster", "__a.dist2")
    spark = points.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "__c int, __cv array<double>")
    if measure == "squared":
        d = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), F.col("__cv"),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v)
    else:
        from mahout_spark.functions.distance import DISTANCES

        d = DISTANCES[measure](F.col(vec_col).cast("array<double>"),
                               F.col("__cv"))
    scored = (points.select(id_col, vec_col)
              .crossJoin(F.broadcast(cdf))
              .select(F.col(id_col), F.col(vec_col),
                      d.alias("__d"), "__c"))
    best = F.min_by(F.struct(F.col("__c").alias("cluster"),
                             F.col("__d").alias("dist2")),
                    F.struct("__d", "__c"))
    return (scored.groupBy(id_col)
            .agg(F.first(vec_col).alias(vec_col), best.alias("__b"))
            .select(id_col, vec_col, "__b.cluster", "__b.dist2"))


def kmeans_seed_centers(points: DataFrame, k: int, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> np.ndarray:
    """(k, dim) seed centroids — the k input points with the smallest

    xxhash64(id, seed): RandomSeedGenerator's 'k random points' made
    deterministic and distributed (a top-k by hash, no driver sampling).
    """
    rows = (points
            .select(F.col(vec_col).cast("array<double>").alias("v"),
                    F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"))
            .orderBy("__h").limit(k).collect())
    if len(rows) < k:
        raise ValueError(f"need at least k={k} points, got {len(rows)}")
    return np.array([r["v"] for r in rows], dtype=np.float64)


class KMeansModel:
    def __init__(self, centers: np.ndarray, iterations: int,
                 converged: bool, cost: float, measure: str = "squared"):
        self.centers = centers
        self.iterations = iterations
        self.converged = converged
        self.cost = cost  # sum of assignment distances at the final pass
        self.measure = measure

    def assign(self, points: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
        """(id, cluster, dist2) — the final classification pass

        (KMeansDriver runClustering). Small k x dim models inline the
        centroids as a whole-stage-codegen argmin expression; large
        models broadcast a centroid table and take min_by over a
        (point x center) join — same result, bounded plan size.
        """
        return _assign_frame(points, self.centers, id_col, vec_col,
                             self.measure) \
            .select(id_col, "cluster", "dist2")


def kmeans(points: DataFrame, k: int, max_iterations: int = 20,
           convergence_delta: float = 1e-4, seed: int = 42,
           id_col: str = "vec_id", vec_col: str = "embedding",
           init_centers: np.ndarray | None = None,
           measure: str = "squared") -> KMeansModel:
    """Lloyd's k-means: deterministic hash-seeded init, Catalyst argmin

    assignment, centroid recompute via posexplode + groupBy avg (one
    shuffle per iteration, k x dim result). Converged when EVERY center
    moves <= convergence_delta in euclidean distance (Kluster semantics).
    Empty clusters keep their previous center (reference clusters simply
    don't observe points).

    ``measure`` picks the ASSIGNMENT distance from the DistanceMeasure
    registry (KMeansDriver accepts any DistanceMeasure the same way);
    the update step remains the mean, exactly as in the reference.
    """
    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(vec_col).cast("array<double>").alias("__v"))
    pts = pts.persist()
    centers = (np.asarray(init_centers, dtype=np.float64)
               if init_centers is not None
               else kmeans_seed_centers(pts, k, seed, "__id", "__v"))
    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        assigned = (_assign_frame(pts, centers, "__id", "__v", measure)
                    .select("__v", F.col("cluster").alias("__c")))
        agg = (assigned
               .select("__c", F.posexplode("__v").alias("__j", "__x"))
               .groupBy("__c", "__j")
               .agg(F.sum("__x").alias("s"), F.count("*").alias("n"))
               .collect())
        new_centers = centers.copy()
        for r in agg:
            new_centers[r["__c"], r["__j"]] = r["s"] / r["n"]
        moves = np.linalg.norm(new_centers - centers, axis=1)
        centers = new_centers
        if float(moves.max()) <= convergence_delta:
            converged = True
            break
    cost = (_assign_frame(pts, centers, "__id", "__v", measure)
            .agg(F.sum("dist2")).first()[0])
    pts.unpersist()
    return KMeansModel(centers, it, converged, float(cost or 0.0), measure)


class StreamingKMeansSketch:
    """One-pass weighted-centroid sketch — StreamingKMeans.java:60-120

    (Shindler/Wong/Meyerson): a new point joins its nearest centroid, or
    founds a new one with probability d/cutoff (certainly when
    d > cutoff); when centroids exceed ``overshoot * num_clusters`` they
    are re-clustered through the same routine with cutoff *= beta.
    The reference's Random draws become a hash coin on the point id, so
    every retry/partition replay produces the identical sketch.

    This is the reference's MAPPER role: reduce a partition to
    ~k*log(n) weighted centroids that fit in one final clustering step
    (mr/.../streaming/mapreduce/StreamingKMeansMapper uses it exactly
    this way) — i.e. a mergeable data sketch, like every other sketch in
    this engine: merge = concatenate weighted centroids + one collapse.
    """

    def __init__(self, num_clusters: int, distance_cutoff: float,
                 beta: float = 1.3, overshoot: float = 2.0,
                 seed: int = 31):
        self.num_clusters = num_clusters
        self._k0 = num_clusters  # requested k, for the k*log(n) target
        self.cutoff = float(distance_cutoff)
        self.beta = beta
        self.overshoot = overshoot
        self.seed = seed
        self.centers: list[np.ndarray] = []
        self.weights: list[float] = []
        self.n_processed = 0

    @staticmethod
    def _coin(pid: int, seed: int) -> float:
        # xxhash-free deterministic coin (pure Python splitmix64 step)
        z = (pid + seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return ((z ^ (z >> 31)) & 0xFFFFFF) / float(1 << 24)

    def _add_one(self, p: np.ndarray, w: float, pid: int) -> None:
        if not self.centers:
            self.centers.append(p.copy())
            self.weights.append(w)
            return
        c = np.stack(self.centers)
        d2 = ((c - p) ** 2).sum(axis=1)
        i = int(d2.argmin())
        d = math.sqrt(float(d2[i]))
        if d > self.cutoff or self._coin(pid, self.seed) < d / self.cutoff:
            self.centers.append(p.copy())
            self.weights.append(w)
        else:
            nw = self.weights[i] + w
            self.centers[i] = self.centers[i] + (p - self.centers[i]) * (w / nw)
            self.weights[i] = nw

    def _collapse(self) -> None:
        while len(self.centers) > self.overshoot * self.num_clusters:
            self.cutoff *= self.beta
            old_c, old_w = self.centers, self.weights
            self.centers, self.weights = [], []
            for j, (p, w) in enumerate(zip(old_c, old_w)):
                self._add_one(p, w, j)

    @staticmethod
    def _pid_int(pid) -> int:
        """Coin key from any id type: integers pass through; other ids

        (strings, bytes, ...) map via crc32 of their repr — process-
        independent, unlike Python's salted hash() (ADVICE r3: string
        vec_ids used to crash the int() coercion)."""
        if isinstance(pid, (int, np.integer)):
            return int(pid)
        return zlib.crc32(str(pid).encode("utf-8"))

    def update_batch(self, points: np.ndarray, ids: np.ndarray,
                     weights: np.ndarray | None = None) -> None:
        w = np.ones(len(points)) if weights is None else weights
        for p, pid, wi in zip(points, ids, w):
            self._add_one(np.asarray(p, dtype=np.float64), float(wi),
                          self._pid_int(pid))
            self.n_processed += 1
            if len(self.centers) > self.overshoot * self.num_clusters:
                # grow the target with the data: k * log(n) (reference
                # clusterLogFactor semantics — NOT a bare log(n), which
                # would stop growing for any k >= ~15), then collapse
                self.num_clusters = max(
                    self.num_clusters,
                    int(math.ceil(self._k0
                                  * math.log(max(2, self.n_processed)))))
                self._collapse()

    def merge(self, other: "StreamingKMeansSketch") -> "StreamingKMeansSketch":
        out = StreamingKMeansSketch(max(self.num_clusters,
                                        other.num_clusters),
                                    max(self.cutoff, other.cutoff),
                                    self.beta, self.overshoot, self.seed)
        out.centers = [c.copy() for c in self.centers + other.centers]
        out.weights = list(self.weights) + list(other.weights)
        out.n_processed = self.n_processed + other.n_processed
        out._collapse()
        return out

    def weighted_centroids(self) -> tuple[np.ndarray, np.ndarray]:
        return np.stack(self.centers), np.asarray(self.weights)


def estimate_distance_cutoff(sample: np.ndarray) -> float:
    """estimateDistanceCutoff analog: the mean nearest-neighbour distance

    over a small point sample (1.0 for fewer than two points, or when
    every sampled point coincides)."""
    if len(sample) < 2:
        return 1.0
    d2 = ((sample[:, None, :] - sample[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(d2, np.inf)
    return float(np.sqrt(d2.min(axis=1)).mean()) or 1.0


#: independent k-means++ seedings per finish; the lowest weighted cost
#: wins (BallKMeans numRuns semantics)
FINISH_RUNS = 4


def _kmeanspp_seeds(cents: np.ndarray, wts: np.ndarray, k: int,
                    seed: int, run: int) -> np.ndarray:
    """Weighted k-means++ seeding — BallKMeans kMeansPlusPlusInit

    (Arthur & Vassilvitskii 2007): the first seed is drawn with
    probability proportional to weight, each further one proportional to
    weight x squared distance to the nearest seed so far. Draw ``i`` of
    ``run`` is the hash coin ``_coin(run * k + i, seed)``, so every call
    and every retry picks the same rows."""
    d2 = np.full(len(cents), np.inf)
    p = wts
    seeds = []
    for i in range(k):
        cdf = np.cumsum(p)
        u = StreamingKMeansSketch._coin(run * k + i, seed) * cdf[-1]
        j = min(int(np.searchsorted(cdf, u, side="right")), len(cents) - 1)
        seeds.append(cents[j])
        d2 = np.minimum(d2, ((cents - cents[j]) ** 2).sum(axis=1))
        # every row on a seed already (< k distinct rows): any row will do
        p = wts * d2 if (wts * d2).sum() > 0 else wts
    return np.stack(seeds)


def weighted_kmeans_finish(cents: np.ndarray, wts: np.ndarray, k: int,
                           seed: int = 31, max_iterations: int = 20
                           ) -> tuple[np.ndarray, int, bool]:
    """(centers, iterations, converged) — the reducer-side BallKMeans role

    over merged sketch rows: ``FINISH_RUNS`` k-means++ seedings, each
    refined by weighted Lloyd's iterations until the centers stop moving
    (``np.allclose``) or ``max_iterations`` pass; the run with the lowest
    weighted cost sum(w * d2) over the rows is kept (first run on ties).
    Spark-free and deterministic in (rows, weights, k, seed). A cluster
    that loses all its rows keeps its center."""
    best = None
    for run in range(FINISH_RUNS):
        centers = _kmeanspp_seeds(cents, wts, k, seed, run)
        converged = False
        it = 0
        for it in range(1, max_iterations + 1):
            d2 = ((cents[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            lab = d2.argmin(axis=1)
            new = centers.copy()
            for j in range(k):
                m = lab == j
                if m.any():
                    new[j] = np.average(cents[m], axis=0, weights=wts[m])
            converged = bool(np.allclose(new, centers))
            centers = new
            if converged:
                break
        d2 = ((cents[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        cost = float((wts * d2.min(axis=1)).sum())
        if best is None or cost < best[0]:
            best = (cost, centers, it, converged)
    return best[1], best[2], best[3]


def streaming_kmeans(points: DataFrame, k: int,
                     distance_cutoff: float | None = None,
                     beta: float = 1.3, overshoot: float = 2.0,
                     seed: int = 31, final_iterations: int = 20,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> KMeansModel:
    """One-pass distributed clustering: every partition reduces its rows

    to a StreamingKMeansSketch (mapInPandas), the per-partition weighted
    centroids union into one small frame, and a k-means++-seeded
    weighted Lloyd's finish (``weighted_kmeans_finish``: the reference's
    reducer-side BallKMeans role, best of ``FINISH_RUNS`` seedings drawn
    from hash coins) produces the final k centers — total shuffle volume
    is ~n_partitions * k * log(n) rows regardless of corpus size, the
    streaming analog of the CMS builds. The k-means++ seeding weighs
    rows by mass and spread, so which sketch row sits at which index
    (set by the partition layout) no longer decides whether a blob gets
    a seed. ``distance_cutoff`` defaults to a hash-sample-based estimate.
    """
    import pandas as pd

    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(vec_col).cast("array<double>").alias("__v"))
    if distance_cutoff is None:
        # over a small deterministic hash sample
        sample = (pts.orderBy(F.xxhash64("__id", F.lit(seed)))
                  .limit(256).collect())
        distance_cutoff = estimate_distance_cutoff(
            np.array([r["__v"] for r in sample]))

    out_schema = "center array<double>, weight double"

    def reduce_partition(batches):
        sk = StreamingKMeansSketch(k, distance_cutoff, beta, overshoot,
                                   seed)
        for pdf in batches:
            if len(pdf):
                sk.update_batch(np.array(pdf["__v"].tolist()),
                                pdf["__id"].to_numpy())
        if sk.centers:
            c, w = sk.weighted_centroids()
            yield pd.DataFrame({"center": list(c), "weight": w})

    reduced = pts.mapInPandas(reduce_partition, schema=out_schema).collect()
    if not reduced:
        raise ValueError("streaming_kmeans: input has no points")
    cents = np.array([r["center"] for r in reduced])
    wts = np.array([r["weight"] for r in reduced])
    if len(cents) < k:
        raise ValueError(
            f"streaming_kmeans: the centroid sketch holds {len(cents)} "
            f"weighted centroids, fewer than k={k} — the input is too "
            f"small (or distance_cutoff too large) for k clusters")
    centers, it, converged = weighted_kmeans_finish(cents, wts, k, seed,
                                                    final_iterations)
    model = KMeansModel(centers, it, converged, 0.0)
    cost = (_assign_frame(pts, centers, "__id", "__v")
            .agg(F.sum("dist2")).first()[0])
    model.cost = float(cost or 0.0)
    return model


#: NumPy DistanceMeasure registry for the in-core canopy mapper
#: (mirrors functions/distance.py for the driver-bounded phase)
NP_MEASURES = {
    "euclidean": lambda M, p: np.linalg.norm(M - p, axis=1),
    "squared": lambda M, p: ((M - p) ** 2).sum(axis=1),
    "manhattan": lambda M, p: np.abs(M - p).sum(axis=1),
    "chebyshev": lambda M, p: np.abs(M - p).max(axis=1),
    "cosine": lambda M, p: 1.0 - (M @ p) / np.maximum(
        np.linalg.norm(M, axis=1) * np.linalg.norm(p), 1e-300),
}


def canopy_centers_incore(points: np.ndarray, t1: float, t2: float,
                          weights: np.ndarray | None = None,
                          measure: str = "euclidean"
                          ) -> tuple[np.ndarray, np.ndarray]:
    """(centers, weights) — CanopyClusterer.addPointToCanopies

    (mr/.../clustering/canopy/CanopyClusterer.java:99-117) over an
    ordered point array: every canopy within T1 of a point observes it
    (running mean); a point within T2 of ANY canopy is strongly bound,
    otherwise it founds a new canopy at itself. Requires t1 > t2.
    Canopy centers are the observed means; weight = observation count.
    ``weights`` makes each input point count as that many observations
    (re-clustering already-aggregated canopy centers keeps their mass).
    """
    if not t1 > t2:
        raise ValueError(f"canopy requires t1 > t2, got t1={t1} t2={t2}")
    if weights is None:
        weights = np.ones(len(points))
    origins: list[np.ndarray] = []   # canopy origin points (fixed)
    sums: list[np.ndarray] = []
    counts: list[float] = []
    for p, w in zip(points, weights):
        p = np.asarray(p, dtype=np.float64)
        w = float(w)
        strongly_bound = False
        if origins:
            d = np.linalg.norm(np.stack(origins) - p, axis=1)
            for i in np.nonzero(d < t1)[0]:
                sums[i] += p * w
                counts[i] += w
            strongly_bound = bool((d < t2).any())
        if not strongly_bound:
            origins.append(p.copy())
            sums.append(p * w)
            counts.append(w)
    return (np.stack(sums) / np.asarray(counts)[:, None],
            np.asarray(counts))


def canopy(points: DataFrame, t1: float, t2: float,
           id_col: str = "vec_id",
           vec_col: str = "embedding",
           max_canopies_per_partition: int = 10_000,
           escalate_beta: float = 1.5) -> np.ndarray:
    """Distributed canopy (CanopyDriver two-phase shape): each partition

    builds local canopies in its row order (mapInPandas), then the
    mapper canopy CENTERS are re-clustered with the same T1/T2 on the
    driver — exactly the reference's mapper/reducer split
    (mr/.../canopy/CanopyMapper + CanopyReducer). Deterministic for a
    fixed input layout (row order within a parquet partition is stable).
    Returns the final (n_canopies, dim) center matrix — feed it to
    KMeansModel / kmeans(init_centers=...) as the classic canopy-seeded
    k-means.

    Driver-phase bound: an adversarially small T2 makes every point its
    own mapper canopy, which would funnel the whole input through the
    driver collect. Each partition therefore caps its output at
    ``max_canopies_per_partition``: when exceeded, the local canopy
    CENTERS are re-clustered with T2 escalated by ``escalate_beta``
    (weights carried) until under the cap — the same
    coarsen-until-bounded move as StreamingKMeansSketch._collapse.
    Inputs that stay under the cap are byte-identical to the uncapped
    two-phase result.
    """
    import pandas as pd

    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(vec_col).cast("array<double>").alias("__v"))

    def local(batches):
        rows = []
        for pdf in batches:
            if len(pdf):
                rows.append(np.array(pdf["__v"].tolist()))
        if rows:
            centers, weights = canopy_centers_incore(
                np.concatenate(rows), t1, t2)
            lt1, lt2 = t1, t2
            while len(centers) > max_canopies_per_partition:
                if lt2 <= 0:
                    lt2 = lt1 / 2  # T2=0 cannot coarsen — jump-start
                else:
                    lt1 *= escalate_beta
                    lt2 *= escalate_beta
                lt1 = max(lt1, lt2 * (1 + 1e-9))
                centers, weights = canopy_centers_incore(
                    centers, lt1, lt2, weights=weights)
            yield pd.DataFrame({"center": list(centers),
                                "weight": weights})

    reduced = pts.mapInPandas(
        local, schema="center array<double>, weight double").collect()
    mapper_centers = np.array([r["center"] for r in reduced])
    final, _ = canopy_centers_incore(mapper_centers, t1, t2)
    return final


def spectral_kmeans(affinity: DataFrame, n: int, k: int,
                    oversampling: int = 15, power_iters: int = 0,
                    max_iterations: int = 20,
                    convergence_delta: float = 1e-6,
                    seed: int = 1234) -> tuple[KMeansModel, DataFrame]:
    """Spectral k-means — the SpectralKMeansDriver pipeline

    (mr/.../spectral/kmeans/SpectralKMeansDriver.java:148-210) composed
    from this engine's own operators:

    1. D = affinity row sums (MatrixDiagonalizeJob);
    2. L = D^-1/2 A D^-1/2 (VectorMatrixMultiplicationJob) — two
       broadcast-joined scalings, never materializing D as a matrix;
    3. top-k left singular vectors of L via the distributed stochastic
       SVD (operators/decompositions.dssvd — the reference calls
       SSVDSolver with the same oversampling/power-iteration knobs);
    4. row-normalize the eigenvector rows to unit length
       (UnitVectorizerJob; "reduces two unique clusters combining");
    5. seed centroids from per-eigencolumn argmax rows
       (EigenSeedGenerator) and run the k-means operator.

    ``affinity``: symmetric (row_id, col_id, value) triples with ids in
    0..n-1. Returns (KMeansModel over the spectral embedding, embedding
    DataFrame (vec_id, embedding)) — assignments via
    ``model.assign(embedding)``.
    """
    from mahout_spark.operators.decompositions import dssvd

    # pinned: joined twice (row and column scaling) — the aliased
    # branches otherwise re-run the degree aggregation per side
    deg = affinity.groupBy("row_id").agg(
        F.sum("value").alias("__d")).persist()
    lap = (affinity
           .join(deg, "row_id")
           .withColumn("value", F.col("value") / F.sqrt(F.col("__d")))
           .drop("__d")
           .join(deg.select(F.col("row_id").alias("col_id"),
                            F.col("__d")), "col_id")
           .withColumn("value", F.col("value") / F.sqrt(F.col("__d")))
           .select("row_id", "col_id", "value"))
    u, _, _ = dssvd(lap, n, n, k, p=min(oversampling, max(0, n - k)),
                    q=power_iters, seed=seed)
    rn = Window.partitionBy("row_id")
    u_norm = u.withColumn(
        "value", F.col("value")
        / F.sqrt(F.sum(F.col("value") * F.col("value")).over(rn)))
    emb = (u_norm.groupBy(F.col("row_id").alias("vec_id"))
           .agg(F.array_sort(F.collect_list(F.struct(
               F.col("col_id").cast("int").alias("j"),
               F.col("value").alias("v")))).alias("__s"))
           .select("vec_id",
                   F.transform("__s", lambda s: s["v"]).alias("embedding"))
           .persist())
    # EigenSeedGenerator: for eigen column j, the row holding its max
    # value seeds cluster j — keep the (j, winner) association and
    # collect ORDERED by j so cluster numbering is deterministic;
    # duplicate winners dedupe (first eigencolumn wins), shortfall
    # filled with smallest-hash rows
    winners = (u_norm
               .withColumn("__rk", F.row_number().over(
                   Window.partitionBy("col_id")
                   .orderBy(F.desc("value"), F.asc("row_id"))))
               .filter(F.col("__rk") == 1)
               .select(F.col("col_id").alias("__j"),
                       F.col("row_id").alias("vec_id")))
    ordered = (winners.join(emb, "vec_id")
               .orderBy("__j").collect())
    seed_rows, seen = [], set()
    for r in ordered:
        if r["vec_id"] not in seen:
            seen.add(r["vec_id"])
            seed_rows.append(r["embedding"])
    if len(seed_rows) < k:
        extra = (emb.filter(~F.col("vec_id").isin(list(seen)))
                 .orderBy(F.xxhash64("vec_id", F.lit(seed)), "vec_id")
                 .limit(k - len(seed_rows)).collect())
        seed_rows += [r["embedding"] for r in extra]
    init = np.array(seed_rows[:k], dtype=np.float64)
    model = kmeans(emb, k, max_iterations=max_iterations,
                   convergence_delta=convergence_delta,
                   init_centers=init)
    return model, emb


def kmeans_assign_sql(table: str, centers: np.ndarray,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_dp: int = 6) -> str:
    """DuckDB twin of KMeansModel.assign at FIXED centroids (gate oracle):

    same argmin + lowest-id tie-break, squared euclidean.
    """
    dist_exprs = []
    for i, c in enumerate(centers):
        lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        dist_exprs.append(
            f"list_sum(list_transform(list_zip({vec_col}::DOUBLE[], "
            f"{lit}::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2])))")
    structs = ", ".join(
        f"{{'d': {d}, 'c': {i}}}" for i, d in enumerate(dist_exprs))
    return f"""
SELECT {id_col},
       best['c']::INT AS cluster,
       round(best['d'], {round_dp}) AS dist2
FROM (SELECT {id_col}, list_sort([{structs}])[1] AS best FROM {table})
"""


# ---------------------------------------------------------------------------
# Fuzzy k-means (soft memberships)
# ---------------------------------------------------------------------------
#
# Reference anchors (studied, not copied):
# - mr/.../clustering/fuzzykmeans/FuzzyKMeansClusterer.java:30-60
#   (computeProbWeight: u_j = 1 / sum_l (d_j/d_l)^(2/(m-1)), zero
#   distances clamped to MINIMAL_VALUE=1e-10; d is EUCLIDEAN DISTANCE,
#   not squared)
# - mr/.../clustering/iterator/FuzzyKMeansClusteringPolicy.java:20-52
#   (select returns the full probability vector; close() recomputes
#   centers and calls Kluster.calculateConvergence(delta))
# - mr/.../clustering/iterator/CIMapper.java:36-42 +
#   classify/ClusterClassifier.java:152-154 — every cluster observes
#   (x, u_j): Mahout weights the centroid update by u, NOT the textbook
#   FCM u^m. This implementation mirrors Mahout (m still shapes the
#   memberships through computeProbWeight).
# - mr/.../clustering/fuzzykmeans/FuzzyKMeansDriver.java:219-258
#   (driver loop: iterate until maxIterations or all clusters converged;
#   optional final clustering pass emits the membership matrix)


def fuzzy_membership_expr(vec: Column, centers: np.ndarray,
                          m: float = 2.0) -> Column:
    """array<double> of k soft memberships — computeProbWeight as one

    Catalyst expression over literal centroids: u_j = w_j / sum(w) with
    w_j = max(d_j, 1e-10)^(-2/(m-1)). Algebraically identical to the
    reference's 1/sum((d_j/d_l)^p) and one pow per cluster instead of
    k^2 divisions."""
    if m <= 1.0:
        raise ValueError(f"fuzziness m must be > 1, got {m}")
    p = 2.0 / (m - 1.0)
    ws = [F.pow(F.greatest(F.sqrt(_sq_dist_expr(vec, c)), F.lit(1e-10)),
                F.lit(-p))
          for c in centers]
    tot = ws[0]
    for w in ws[1:]:
        tot = tot + w
    return F.array(*[w / tot for w in ws])


class FuzzyKMeansModel:
    def __init__(self, centers: np.ndarray, m: float, iterations: int,
                 converged: bool):
        self.centers = centers
        self.m = m
        self.iterations = iterations
        self.converged = converged

    def memberships(self, points: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
        """(id, cluster, prob) — the soft membership matrix, k rows per

        point (FuzzyKMeansDriver's final clustering pass with
        emitMostLikely=false)."""
        u = fuzzy_membership_expr(F.col(vec_col).cast("array<double>"),
                                  self.centers, self.m)
        return points.select(
            F.col(id_col), F.posexplode(u).alias("cluster", "prob"))

    def assign(self, points: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
        """(id, cluster, dist2) — hard argmax membership, which for any m

        is the nearest center (emitMostLikely=true)."""
        return _assign_frame(points, self.centers, id_col, vec_col) \
            .select(id_col, "cluster", "dist2")


def fuzzy_kmeans(points: DataFrame, k: int, m: float = 2.0,
                 max_iterations: int = 20,
                 convergence_delta: float = 0.05, seed: int = 42,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 init_centers: np.ndarray | None = None
                 ) -> FuzzyKMeansModel:
    """Fuzzy k-means driver loop. Per iteration ONE shuffle: every point

    contributes (u_j, u_j * x) to every cluster — posexplode to
    (cluster, dim) pairs, groupBy with map-side partial aggregation, a
    k x dim result to the driver (same contract as `kmeans`; the k x
    explode fan-out is CPU-bounded, shuffle stays k x dim x partitions).
    Converged when every center moves <= delta in euclidean distance
    (Kluster.calculateConvergence semantics, same as `kmeans`)."""
    pts = points.select(F.col(id_col).alias("__id"),
                        F.col(vec_col).cast("array<double>").alias("__v"))
    pts = pts.persist()
    centers = (np.asarray(init_centers, dtype=np.float64)
               if init_centers is not None
               else kmeans_seed_centers(pts, k, seed, "__id", "__v"))
    converged = False
    it = 0
    for it in range(1, max_iterations + 1):
        u = fuzzy_membership_expr(F.col("__v"), centers, m)
        soft = pts.select("__v", F.posexplode(u).alias("__c", "__u"))
        agg = (soft
               .select("__c", "__u", F.posexplode("__v").alias("__j", "__x"))
               .groupBy("__c", "__j")
               .agg(F.sum(F.col("__u") * F.col("__x")).alias("s"),
                    F.sum("__u").alias("w"))
               .collect())
        new_centers = centers.copy()
        for r in agg:
            if r["w"] > 0:
                new_centers[r["__c"], r["__j"]] = r["s"] / r["w"]
        moves = np.linalg.norm(new_centers - centers, axis=1)
        centers = new_centers
        if float(moves.max()) <= convergence_delta:
            converged = True
            break
    pts.unpersist()
    return FuzzyKMeansModel(centers, m, it, converged)


def fuzzy_membership_sql(table: str, centers: np.ndarray, m: float = 2.0,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         round_dp: int = 6) -> str:
    """DuckDB twin of FuzzyKMeansModel.memberships at FIXED centroids

    (gate oracle): the identical w_j = max(sqrt(d2_j), 1e-10)^(-2/(m-1))
    expression chain, summed in cluster order."""
    p = 2.0 / (m - 1.0)
    wexprs = []
    for c in centers:
        lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        d2 = (f"list_sum(list_transform(list_zip({vec_col}::DOUBLE[], "
              f"{lit}::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2])))")
        wexprs.append(f"pow(greatest(sqrt({d2}), 1e-10), {-p!r})")
    tot = " + ".join(f"w{i}" for i in range(len(wexprs)))
    wcols = ", ".join(f"{e} AS w{i}" for i, e in enumerate(wexprs))
    sel = ", ".join(f"round(w{i} / ({tot}), {round_dp})"
                    for i in range(len(wexprs)))
    return f"""
WITH w AS (SELECT {id_col}, {wcols} FROM {table}),
u AS (SELECT {id_col}, unnest([{sel}]) AS prob,
             unnest(range({len(wexprs)})) AS cluster
      FROM w)
SELECT {id_col}, cluster::INT AS cluster, prob FROM u
"""


# ---------------------------------------------------------------------------
# Cluster classification with outlier threshold + top-down postprocess
# (clustering/classify/ClusterClassificationDriver.java:44-120,
#  ClusterClassificationMapper.java:95-160,
#  iterator/AbstractClusteringPolicy.classify:54-66,
#  iterator/DistanceMeasureCluster.pdf:65-67 — studied, not copied)
# ---------------------------------------------------------------------------


def cluster_classify(points: DataFrame, centers: np.ndarray,
                     threshold: float = 0.0,
                     emit_most_likely: bool = True,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     measure: str = "euclidean") -> DataFrame:
    """(id, cluster, weight, is_outlier) — assign points to EXISTING

    clusters with the reference's outlier threshold. Per point:
    pdf_i = 1/(1 + dist(x, c_i)) (DistanceMeasureCluster.pdf), normalized
    to sum 1 (AbstractClusteringPolicy.classify); a point classifies only
    if max normalized pdf >= threshold (shouldClassify), else it is an
    outlier row with cluster = -1. ``emit_most_likely=False`` emits every
    cluster whose normalized pdf clears the threshold
    (writeAllAboveThreshold) instead of just the argmax.

    All-JVM: centroids are literals, pdfs fold left in cluster order (the
    DuckDB twin replays the same order bit-for-bit), argmax ties break to
    the lowest cluster id.
    """
    from mahout_spark.functions.distance import DISTANCES

    fn = DISTANCES[measure]
    centers = np.asarray(centers, dtype=np.float64)
    k = len(centers)
    vec = F.col(vec_col).cast("array<double>")
    pdfs = []
    for c in centers:
        carr = F.array(*[F.lit(float(x)) for x in c])
        pdfs.append(F.lit(1.0) / (F.lit(1.0) + fn(vec, carr)))
    arr = F.array(*pdfs)
    total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    base = points.select(F.col(id_col), arr.alias("__p"),
                         total.alias("__t"))
    entries = [F.struct((F.lit(0.0) - F.col("__p")[i]).alias("nd"),
                        F.lit(i).alias("c")) for i in range(k)]
    best = F.array_sort(F.array(*entries))[0]
    mx = (F.lit(0.0) - best["nd"]) / F.col("__t")
    if emit_most_likely:
        return base.select(
            F.col(id_col),
            F.when(mx >= threshold, best["c"]).otherwise(F.lit(-1))
            .alias("cluster"),
            mx.alias("weight"),
            (mx < threshold).alias("is_outlier"))
    scored = base.select(F.col(id_col), mx.alias("__mx"), "__t",
                         F.posexplode("__p").alias("__c", "__pv"))
    classified = (scored
                  .filter((F.col("__mx") >= threshold)
                          & (F.col("__pv") / F.col("__t") >= threshold))
                  .select(F.col(id_col), F.col("__c").alias("cluster"),
                          (F.col("__pv") / F.col("__t")).alias("weight"),
                          F.lit(False).alias("is_outlier")))
    outliers = (base.select(F.col(id_col), mx.alias("__mx"))
                .filter(F.col("__mx") < threshold)
                .select(F.col(id_col), F.lit(-1).alias("cluster"),
                        F.col("__mx").alias("weight"),
                        F.lit(True).alias("is_outlier")))
    return classified.unionByName(outliers)


def cluster_classify_sql(table: str, centers: np.ndarray,
                         threshold: float, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         round_dp: int = 6) -> str:
    """DuckDB twin of cluster_classify(emit_most_likely=True): identical

    1/(1+euclidean) pdfs, identical left-fold total in cluster order,
    identical argmax tie-break, identical threshold decision on the
    UNROUNDED weight."""
    pexprs = []
    for c in np.asarray(centers, dtype=np.float64):
        lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        d2 = (f"list_sum(list_transform(list_zip({vec_col}::DOUBLE[], "
              f"{lit}::DOUBLE[]), p -> (p[1] - p[2]) * (p[1] - p[2])))")
        pexprs.append(f"1.0 / (1.0 + sqrt({d2}))")
    k = len(pexprs)
    pcols = ", ".join(f"{e} AS p{i}" for i, e in enumerate(pexprs))
    tot = " + ".join(f"p{i}" for i in range(k))
    # argmax with lowest-id tie-break via greatest-chain comparison
    best_c = "0"
    best_p = "p0"
    for i in range(1, k):
        best_c = f"(CASE WHEN p{i} > ({best_p}) THEN {i} ELSE {best_c} END)"
        best_p = f"greatest({best_p}, p{i})"
    return f"""
WITH p AS (SELECT {id_col}, {pcols} FROM {table}),
s AS (SELECT {id_col}, ({best_c}) AS bc, ({best_p}) AS bp,
             ({tot}) AS t FROM p)
SELECT {id_col},
       (CASE WHEN bp / t >= {threshold!r} THEN bc ELSE -1 END) AS cluster,
       round(bp / t, {round_dp}) AS weight,
       (bp / t < {threshold!r}) AS is_outlier
FROM s
"""


def write_clustered(assigned: DataFrame, path: str,
                    cluster_col: str = "cluster") -> None:
    """Top-down postprocessor (clustering/topdown/postprocessor/

    ClusterOutputPostProcessorDriver.java): one output directory per
    cluster. DataFrame-native: partitionBy on the cluster column — the
    'move each point into its cluster's directory' MR pass becomes a
    partitioned parquet write with dynamic partition pruning on read."""
    assigned.write.mode("overwrite").partitionBy(cluster_col).parquet(path)


def topdown_cluster(points: DataFrame, k_top: int, k_within: int,
                    max_iterations: int = 10, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Top-down two-level clustering (clustering/topdown/TopDownClustering

    pattern): k-means into k_top coarse clusters, then an independent
    k-means of k_within inside each — returns (id, top_cluster,
    sub_cluster). The within phase trains per-cluster on driver-bounded
    centroid state but assigns distributedly; suitable when k_top *
    k_within centroids stay driver-sized (they do — centroids, not data).
    """
    top = kmeans(points, k_top, max_iterations, seed=seed,
                 id_col=id_col, vec_col=vec_col)
    a = (top.assign(points, id_col=id_col, vec_col=vec_col)
         .select(F.col(id_col), F.col("cluster").alias("top_cluster")))
    assigned = points.select(F.col(id_col), F.col(vec_col)).join(a, id_col)
    assigned = assigned.persist()
    outs = []
    for c in range(k_top):
        sub = assigned.filter(F.col("top_cluster") == c)
        n = sub.count()
        if n == 0:
            continue
        kw = min(k_within, n)
        model = kmeans(sub, kw, max_iterations, seed=seed + 1 + c,
                       id_col=id_col, vec_col=vec_col)
        outs.append(model.assign(sub).select(
            F.col(id_col), F.lit(c).alias("top_cluster"),
            F.col("cluster").alias("sub_cluster")))
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
