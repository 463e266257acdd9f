"""SparkSession factory with engine defaults (local test profile).

Scale posture: AQE on (runtime coalesce + skew-join split), explicit
shuffle-partition count, Arrow enabled for the pandas-UDF kernels. On a real
cluster these come from spark-submit conf; this factory is for tests/bench.

Codegen cache: every whole-stage-codegen class Spark generates is compiled
by Janino and kept in a per-JVM cache keyed on its source, whose default
size (``spark.sql.codegen.cache.maxEntries`` = 100) is below the engine's
working set — one pass of the benchmark's radius-search workload (broadcast
and shuffled radius search, kNN rings, point-in-polygon) needs 116-120
distinct classes, so the cache thrashed and every later pass recompiled
63-101 of them (then HotSpot JIT-compiled the fresh classes again). 1000
entries holds that working set several times over: a second identical
round of those ops compiles 0 classes (Spark's ``CodegenMetrics``;
tests/test_codegen_cache.py). The gain applies to sessions that repeat
identical plans: Spark inlines primitive literals (radius, k, bounds) into
the generated source, so a repeat with other parameters compiles new
classes (a sf0.001 ``search_km`` compiled 27 classes, 0 on an identical
repeat, 3 with another radius, 2 with another k, 5 with both). The
benchmark's measured pass replays its warm pass's exact plans, the best
case; a workload with varied parameters is needed before the gain can be
generalised. The conf is STATIC: it is read once when
the JVM's SQL context starts, so it only takes effect on the first session
of a process — cluster deployments must set it at submit time
(``--conf spark.sql.codegen.cache.maxEntries=1000``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "geoengine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # static: see the module docstring (working set 116-120 classes)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # pin BLAS to 1 thread per python worker: numpy kernels otherwise
        # oversubscribe cores and flatten executor-level scaling
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # python worker reuse ON (Spark default; SPARK_GRAFT_WORKER_REUSE=0
        # restores the round-4/5 per-task-fork profile). History: round 4
        # measured reused workers poisoned by a heavy Arrow stage stalling
        # the NEXT pandas-UDF stage >10x (47s -> 2.9s on minhash) and
        # flipped this off. Re-measured round 6 on the current kernels
        # (guide §1: measure first): the stall no longer reproduces — full
        # bench A/B at sf0.1/local[32], reuse=false 9.09 s vs reuse=true
        # 6.36 s headline, minhash steady at 0.81 s directly after the 60k-
        # image mapInPandas stage across all reps — while per-task forks
        # now COST ~0.3-1.1 s per Python-stage query (each forked worker
        # re-imports numpy/pandas: images_phash 2.07 -> 0.94, embedding_ivf
        # 3.12 -> 1.68, geofence_visits 1.66 -> 1.07). If a poisoning
        # regression ever resurfaces, flip the env var and re-bench.
        .config(
            "spark.python.worker.reuse",
            "false" if os.environ.get("SPARK_GRAFT_WORKER_REUSE") == "0"
            else "true",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
