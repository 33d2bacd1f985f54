"""SparkSession construction with scale-appropriate defaults.

The engine targets 1000-executor clusters over ~100 TB; locally we run
``local[N]``. Every knob here exists for the big-cluster plan:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's hand-rolled partition-count estimation
  (spark/.../blas/AtA.scala:134-139);
- Arrow enabled for all pandas UDF exchange (the engine's executor-side
  kernels are Arrow-batch NumPy);
- shuffle partitions default sized for the local core count; on a real
  cluster set ``spark.sql.shuffle.partitions`` ~ 2-3x total cores or rely
  on AQE coalescing from a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "mahout_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = 32
    exec_mem_mb = None
    if master.startswith("local["):
        inner = master[6:-1]
        cores = os.cpu_count() if inner == "*" else int(inner)
    exec_cores = None
    if master.startswith("local-cluster["):
        # local-cluster[numWorkers,coresPerWorker,memPerWorkerMB]:
        # separate executor JVMs on one box — the closest sandbox analogue
        # of an N-executor cluster (per-executor GC/heap/python workers,
        # netty shuffle between processes)
        n_w, c_w, m_w = (int(x) for x in master[14:-1].split(","))
        cores = n_w * c_w
        exec_mem_mb = int(m_w * 0.85)
        exec_cores = c_w
    # one python worker per task slot already saturates the cores — a
    # 32-thread BLAS/OMP pool PER WORKER (the numpy default on this host)
    # oversubscribes cores*32 threads during matmul-heavy kernels
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(cores * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep the local-mode heap MODEST. Measured on this sandbox
        # (Firecracker VM, ~5 GB/s memory): a 48g heap triggers kernel-time
        # storms (lazy heap growth page-zeroing) with intermittent
        # 40-250s whole-JVM stalls at local[16]; 12g is stable and faster
        # ([33,30,35]s vs [40,78,247]s on the flagship). On a real cluster
        # this maps to per-executor memory, which is likewise modest.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # shuffle/spill files on tmpfs when available — the sandbox's
        # virtio disk serializes concurrent shuffle writers (cluster
        # equivalent: executor-local NVMe)
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local"
                               if os.path.isdir("/dev/shm") else "/tmp"))
        # tell the JVM how many cores this local[N] session actually owns:
        # otherwise GC/JIT/ForkJoin pools are sized for ALL host vCPUs and
        # allocation-heavy (string/tokenize) stages anti-scale (measured
        # 13.9s -> 9.8s at local[16] on a 32-vCPU host). On a real cluster
        # the resource manager pins executor cores, so this is implicit.
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={cores} "
                + os.environ.get("SPARK_GRAFT_JVM_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.dir", f"file://{evdir}"))
    if exec_mem_mb:
        builder = (builder
                   .config("spark.executor.memory", f"{exec_mem_mb}m")
                   # each executor JVM must size GC/JIT pools for ITS core
                   # slice, not the host's 32 vCPUs (same lesson as the
                   # driver ActiveProcessorCount above), and worker env
                   # must pin BLAS pools like the driver env does
                   .config("spark.executor.extraJavaOptions",
                           f"-XX:ActiveProcessorCount={exec_cores}")
                   .config("spark.executorEnv.OMP_NUM_THREADS", "1")
                   .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
                   .config("spark.executorEnv.MKL_NUM_THREADS", "1"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if exec_mem_mb:
        # separate executor JVMs don't share the driver's sys.path: ship
        # the package zip exactly as spark-submit --py-files would on a
        # real cluster (bin/package.sh builds it; fall back to building
        # one on the fly)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_path = os.path.join(repo, "dist", "mahout_spark.zip")
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        src_mtime = max((os.path.getmtime(os.path.join(r, f))
                         for r, _, fs in os.walk(pkg_dir)
                         for f in fs if f.endswith(".py")), default=0.0)
        # a stale zip would run OLD code on executors while the driver
        # runs new — rebuild whenever any source is at least as new (<=:
        # a build in the same second can stamp zip and sources identically)
        if (not os.path.exists(zip_path)
                or os.path.getmtime(zip_path) <= src_mtime):
            import subprocess

            subprocess.run(["sh", os.path.join(repo, "bin", "package.sh")],
                           check=True, capture_output=True)
        spark.sparkContext.addPyFile(zip_path)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict:
    """Register the driver's parquet tables as temp views; returns dict of DFs."""
    names = names or ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
