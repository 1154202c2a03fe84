"""SparkSession factory with the engine's standard configuration.

Local mode here, but every knob is chosen for the 1000-executor case:
AQE on (runtime coalesce + skew-join splitting), Arrow enabled for the
pandas-UDF path, UTC session timezone pinned so timestamps compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ccer",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Pin worker Python to the RESOLVED interpreter, not a launcher shim:
    # a version-manager shim (e.g. pyenv's bash trampoline) adds ~0.3-0.5s
    # of exec overhead per spawn, paid on every Python-daemon start — and,
    # under spark.python.worker.reuse=false, amplified across stages.
    # sys.executable is already the post-shim real binary.
    import sys as _sys

    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", _sys.executable)
    if os.environ.get("PYSPARK_PYTHON", "python") in ("python", "python3"):
        os.environ["PYSPARK_PYTHON"] = _sys.executable
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # size shuffle partitions by DATA, not cores: a low-core run with
        # cores-sized partitions spills multi-GB sort buffers to disk and
        # degrades superlinearly. Start high; AQE coalesces the small ones.
        shuffle_partitions = max(4 * cores, 64)
    # CCER_MASTER overrides the default local[cores] — e.g.
    # "local-cluster[4,8,4096]" runs 4 SEPARATE executor JVMs with real
    # RPC shuffle and serialization boundaries, the closest this sandbox
    # gets to a multi-executor cluster (BENCH/BASELINE.md).
    master = os.environ.get("CCER_MASTER", f"local[{cores}]")
    # Under local-cluster[e,c,mem] every executor JVM still sees ALL host
    # CPUs via Runtime.availableProcessors and sizes its internal thread
    # pools for them: ParallelGC spawns ~(5/8)*ncpus GC threads, plus
    # JIT compiler and netty IO pools — 4 executors on a 32-CPU host run
    # ~90 GC threads against ~10 deliverable cores, and the collision is
    # charged to task CPU (measured at 960k pages: 2,369-4,057 executor
    # CPU-s at local-cluster[4,4] vs ~680 at local[16] for identical
    # work). A REAL cluster never has this: cgroup-contained executors
    # (YARN/K8s) see only their own cores. -XX:ActiveProcessorCount=c
    # reproduces that containment, sizing every derived pool to the
    # executor's actual core grant.
    exec_core_bound = ""
    if master.startswith("local-cluster["):
        exec_cores = int(master.split("[", 1)[1].split(",")[1])
        exec_core_bound = f" -XX:ActiveProcessorCount={exec_cores}"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # conf (not just env) so separate executor JVMs under
        # local-cluster/standalone also spawn the resolved interpreter
        .config("spark.pyspark.python", os.environ["PYSPARK_PYTHON"])
        # local-cluster executors run Python workers in their own process
        # tree and do NOT inherit the driver's sys.path — without this,
        # every pandas-UDF import of ccer dies with ModuleNotFoundError.
        # On a real multi-host cluster ship the package with
        # `spark-submit --py-files ccer.zip` instead (same-host paths
        # don't exist there); this conf only covers same-host executors.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in (
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                )
                if p
            ),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(shuffle_partitions, 128)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # zstd checkpoints: the stage tables are write-once/read-once —
        # trade a little CPU (which scales) for disk I/O (which doesn't)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle codec (guide §2.3): measured A/B on the ER pipeline at
        # 242k pages/local[32] (r6): zstd ships 17% fewer shuffle bytes
        # (1306 -> 1086 MB) for +25 executor-CPU-s and +0.8 s wall — on
        # this single host the shuffle path is tmpfs memcpy, so bytes are
        # nearly free and the extra CPU loses. On a real cluster, where
        # the scoring/near-dup exchanges are network/bus-bound while CPU
        # scales with executors (BENCH/BASELINE.md), the trade reverses:
        # set CCER_IO_CODEC=zstd there (executor-mode scaling protocol
        # does). Kept explicit so the production override is one env var.
        .config("spark.io.compression.codec", os.environ.get("CCER_IO_CODEC", "lz4"))
        # local mode: the driver JVM hosts every executor thread. Heap is
        # sized PER CORE (default 2g/core, min 12g) because that is the
        # resource shape of a real cluster — every executor added brings
        # its own memory, so a 4N-executor cluster has 4N heap. A fixed
        # heap shared by 4x the threads quarters per-task memory and the
        # extra threads drown in GC (measured at 480k docs/local[16] with
        # a fixed 16g heap: 1112s GC vs 209s at local[4] — the whole
        # scaling gap). Throughput GC (ParallelGC) beats G1 here: 64g G1
        # spent 400-500s in humongous-allocation storms from concurrent
        # Arrow batch streams.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "CCER_DRIVER_MEM",
                f"{max(12, int(float(os.environ.get('CCER_MEM_PER_CORE_GB', '2')) * cores))}g",
            ),
        )
        # -XX:-DontCompileHugeMethods: whole-stage-codegen methods between
        # HotSpot's HugeMethodLimit (8000 bytecode bytes) and Spark's
        # codegen fallback (65535) are otherwise NEVER JIT-compiled and run
        # interpreted forever — measured on the blocks stage (32-band
        # minhash explode, maxMethodCodeSize 10227): tasks ran ~80x slower
        # interpreted and the stage pinned every core in the interpreter
        # (wall 17s -> 6.8s, task CPU 176s -> 53s at local[16] when the
        # flag unlocks compilation). On a real cluster this belongs in
        # spark.executor.extraJavaOptions too.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "CCER_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:-DontCompileHugeMethods",
            ),
        )
        # Same opts on executors: under plain local[n] there is no separate
        # executor JVM so this is a no-op, but under CCER_MASTER=
        # local-cluster[...] (or a real cluster) the codegen-JIT unlock and
        # throughput GC must apply where the tasks actually run — without
        # it, huge whole-stage-codegen methods run interpreted on every
        # executor (the ~80x blocks-stage pathology above) and executors
        # default to G1. exec_core_bound (local-cluster only) adds the
        # ActiveProcessorCount containment derived above.
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "CCER_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:-DontCompileHugeMethods",
            )
            + exec_core_bound,
        )
        # Tungsten execution memory off-heap (1g/core): sort/join pages
        # out of the GC's reach. Measured on the 480k-page edges stage at
        # local[16]: on-heap pages drove 1832s of summed GC task time and
        # 230s stage wall; off-heap cut GC to 52s and the stage to 115s.
        # On a real cluster this maps to executor.memoryOverhead sizing.
        .config(
            "spark.memory.offHeap.enabled",
            os.environ.get("CCER_OFFHEAP", "true"),
        )
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("CCER_OFFHEAP_SIZE", f"{max(4, cores)}g"),
        )
        # fresh Python worker per task: the features stage's workers grow
        # multi-GB RSS (html/text buffers) and, reused, starve every later
        # pandas-UDF stage of page cache + allocator locality. Measured at
        # 480k docs/local[16]: full pipeline 348s with reuse, 135s without
        # (edges stage 178s -> 43s). Respawn cost is ~1s per stage total.
        .config(
            "spark.python.worker.reuse",
            os.environ.get("CCER_PY_WORKER_REUSE", "false"),
        )
        .config("spark.ui.enabled", "false")
        # shuffle spill files on tmpfs: N concurrent shuffle writers on a
        # virtualized disk degrade with parallelism (random-write thrash);
        # on a real cluster this is the executors' local NVMe
        .config("spark.local.dir", os.environ.get("CCER_LOCAL_DIR", "/dev/shm/ccer-spark"))
        # stage tables are external (explicit path); keep the otherwise-
        # unused default warehouse out of the repo working directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("CCER_WAREHOUSE_DIR", "/tmp/ccer-spark-warehouse"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # ad-hoc overrides for benchmarking/ops: CCER_EXTRA_CONF="k=v;k2=v2"
    env_conf = os.environ.get("CCER_EXTRA_CONF", "")
    for part in filter(None, env_conf.split(";")):
        key, _, value = part.partition("=")
        builder = builder.config(key.strip(), value.strip())
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint_level():
    """Storage level for the connected-components round checkpoints
    (``ccer.operators.cluster``), and for nothing else. The scorer's base
    (``scoring.py``) and the salt join-back (``blocking.py``) checkpoints
    stay at the default deserialized level on purpose: they are large
    and read hot (serialized storage measured 5x the read CPU on the
    ``blocking.py`` one, recorded next to it).

    Default DataFrame.localCheckpoint caches DESERIALIZED on-heap rows:
    every checkpointed row is a live heap object (plus per-field boxes
    for arrays), and the checkpoints live until the ContextCleaner
    happens to collect them — measured on the 242k-page ER run as a
    full-GC cascade (449 summed GC-s of 1612 run-s; one CC-phase stage
    spent 225 of 247 task-seconds in GC). SERIALIZED storage keeps each
    partition as a handful of byte buffers — thousands of live objects
    instead of tens of millions, which is what ParallelGC pause time
    scales with. (OFF_HEAP would be better still, but
    LocalRDDCheckpointData.transformStorageLevel strips the off-heap
    bit from any level passed to localCheckpoint, so serialized
    on-heap + disk is the strongest reachable level.) Read-side cost is
    one deserialization per read of row-width bytes; a CC round
    checkpoint is write-once/read-twice-or-thrice, so the trade is
    strictly GC-bound. Storage level never affects row values — results are
    bit-identical by construction.
    """
    from pyspark.storagelevel import StorageLevel

    return StorageLevel.MEMORY_AND_DISK  # PySpark naming: serialized on-heap + disk


def unpersist_checkpoint(df) -> None:
    """Explicitly free a superseded localCheckpoint's cached blocks.

    DataFrame.unpersist() only talks to the cacheManager and does NOT
    free a localCheckpoint (its data hangs off the internal RDD inside
    the LogicalRDD leaf); without this, every CC round's checkpoint
    stays resident until a JVM GC discovers the dropped reference and
    the ContextCleaner gets around to it — unbounded accumulation over
    the round loop. Reaches the internal RDD via the analyzed plan;
    best-effort (an API change degrades to the old leak-until-GC
    behavior, never to an error)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def job_counts(spark: SparkSession) -> dict:
    """Spark jobs and tasks run so far by this application, read from the
    status tracker (no UI needed; it keeps the last ``spark.ui.retainedJobs``
    jobs, 1000 by default). Tasks are the completed tasks of the
    jobs' distinct stages, so a skipped stage (reused shuffle) adds none.
    Both are load-independent: they count the per-job and per-task fixed
    cost that dominates small passes, whatever the host's speed."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup()
    stage_ids = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = (tracker.getStageInfo(s) for s in stage_ids)
    return {
        "spark_jobs": len(job_ids),
        "spark_tasks": sum(s.numCompletedTasks for s in stages if s is not None),
    }


def task_metrics(spark: SparkSession) -> dict | None:
    """Aggregate executor task metrics over all completed stages, via the
    Spark UI REST API (requires spark.ui.enabled=true on the session).

    ``executor_cpu_sec`` is the scheduler-independent measure of work:
    actual CPU cycles burned by tasks, unaffected by how many cores the
    host pretends to have — the defensible numerator for scaling-
    efficiency claims on a shared/throttled machine (BENCH/BASELINE.md).
    ``executor_run_sec`` / wall = achieved task concurrency.
    """
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete", timeout=30
        ) as resp:
            stages = _json.load(resp)
    except Exception:
        return None
    out = {
        "executor_cpu_sec": round(sum(s.get("executorCpuTime", 0) for s in stages) / 1e9, 2),
        "executor_run_sec": round(sum(s.get("executorRunTime", 0) for s in stages) / 1e3, 2),
        "jvm_gc_sec": round(sum(s.get("jvmGcTime", 0) for s in stages) / 1e3, 2),
        "shuffle_read_mb": round(sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20, 1),
        "shuffle_write_mb": round(sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20, 1),
        "n_stages": len(stages),
        "n_tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
    }
    # per-Spark-stage attribution (CCER_STAGE_METRICS_PATH=<file>): where
    # does CPU/GC/shuffle go — the diagnostic for scaling regressions
    detail_path = os.environ.get("CCER_STAGE_METRICS_PATH")
    if detail_path:
        rows = [
            {
                "stage_id": s.get("stageId"),
                "name": (s.get("name") or "")[:120],
                "tasks": s.get("numCompleteTasks"),
                "cpu_sec": round(s.get("executorCpuTime", 0) / 1e9, 2),
                "run_sec": round(s.get("executorRunTime", 0) / 1e3, 2),
                "gc_sec": round(s.get("jvmGcTime", 0) / 1e3, 2),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 2**20, 1),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 2**20, 1),
                "input_mb": round(s.get("inputBytes", 0) / 2**20, 1),
                "output_mb": round(s.get("outputBytes", 0) / 2**20, 1),
            }
            for s in sorted(stages, key=lambda s: -s.get("executorCpuTime", 0))
        ]
        with open(detail_path, "w") as fh:
            _json.dump(rows, fh, indent=1)
    return out
