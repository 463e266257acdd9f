"""Headline benchmark — run:  python bench.py

Reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on) and
prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "rows": {...}, "rows_per_sec": {...}}

Execution is forced with a noop-format write (full plan runs, nothing
collected to the driver). The two BASELINE.json headline numbers are
neighborhood-join rows/sec and tile-assignment rows/sec; scaling evidence
(local[8] vs local[32]) is produced by tools/scaling_run.py -> BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geoengine import datasets, exprs  # noqa: E402
from geoengine.fixtures import images_table  # noqa: E402
from geoengine.images import with_computed_phash  # noqa: E402
from geoengine.join import radius_join_pairs  # noqa: E402
from geoengine.knn import knn_join_rings  # noqa: E402
from geoengine.session import get_spark  # noqa: E402
from geoengine.text import exact_dedup, minhash_near_dup_pairs  # noqa: E402
from geoengine.topk import top_n_per_origin  # noqa: E402

# heavy mode (scaling evidence): big enough that per-query work dominates
# fixed job overhead — lineitem-derived 600k-origin join at 200 km,
# 360k-image phash, 100M-point tiling
HEAVY = os.environ.get("SPARK_GRAFT_BENCH_HEAVY", "") == "1"
JOIN_RADIUS_KM = 200.0 if HEAVY else 100.0
N_IMAGES = int(
    os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "360000" if HEAVY else "60000")
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def orders_points(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return datasets.with_point(df, "o_orderkey", 41, 97).select(
        F.col("o_orderkey").alias("id"), "latitude", "longitude"
    )


def lineitem_points(spark, sf_dir, parallelism: int):
    # the sf0.1 parquet is a single row-group file -> one scan task; the
    # explicit repartition (reference R8 DOP knob, README.md:51) spreads the
    # explode+join across the cluster. At real scale the source is
    # many-filed/bucketed and this is a no-op.
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(parallelism)
    df = df.withColumn("lkey", F.col("l_orderkey") * 8 + F.col("l_linenumber"))
    return datasets.with_point(df, "lkey", 41, 97).select(
        F.col("lkey").alias("id"), "latitude", "longitude"
    )


def loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:  # non-Linux
        return -1.0


def wait_for_idle() -> dict:
    """Bounded spin-wait for an idle host before rep 1 (this VM has
    intermittent EXTERNAL cpu steal — numbers captured under it read as
    regressions). Gate: 1-min loadavg < 1.5 (the CLAUDE.md comparison
    rule), waiting up to 120 s (SPARK_GRAFT_BENCH_IDLE_WAIT_S; 0 disables).
    The outcome is recorded in the artifact either way, so a headline
    captured after a gate timeout is self-flagging."""
    limit = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT_S", "120"))
    thresh = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "1.5"))
    if limit <= 0:
        # gate explicitly off (scaling_run legs): distinct state, NOT a
        # timeout — a timeout flag here would make every deliberate
        # gate-off capture read as steal-suspect
        return {"threshold": thresh, "waited_s": 0.0, "met": None,
                "idle_gate_timeout": False, "disabled": True}
    t0 = time.time()
    while loadavg() >= thresh and time.time() - t0 < limit:
        time.sleep(5.0)
    waited = round(time.time() - t0, 1)
    met = loadavg() < thresh
    return {"threshold": thresh, "waited_s": waited, "met": met,
            "idle_gate_timeout": not met, "disabled": False}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    idle_gate = wait_for_idle()  # before the JVM starts inflating loadavg
    spark = get_spark("geoengine-bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    rows: dict[str, int] = {}
    secs: dict[str, float] = {}
    secs_median: dict[str, float] = {}
    rep_times: dict[str, list[float]] = {}

    load_start = loadavg()

    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") == "1"
    # this host has intermittent EXTERNAL cpu steal that can span all reps of
    # a query: the headline per-query time is the MIN of the reps (under
    # additive contention noise the min is the robust estimator — the same
    # one tools/scaling_run.py uses across interleaved rounds), the median
    # is kept alongside, and the raw per-rep times + start/end loadavg are
    # emitted so the round artifact is self-diagnosing (steal shows up as
    # rep spread / high loadavg, a real regression shifts the min).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def run(name: str, df_fn, count_df_fn=None, target=None):
        if warm:  # JIT/codegen/python-worker warmup: time the steady state
            force(df_fn())
        times = []
        for _ in range(reps):
            t0 = time.time()
            force(df_fn())
            times.append(round(time.time() - t0, 3))
        rep_times[name] = times
        ordered = sorted(times)
        # target=None -> the headline block (counted in `value`); extras
        # pass their own dict and stay out of the totals
        (secs if target is None else target)[name] = ordered[0]
        if target is None:
            secs_median[name] = ordered[len(ordered) // 2]
        if count_df_fn is not None:
            rows[name] = count_df_fn()

    origins = (
        lineitem_points(spark, sf_dir, cpus * 2)
        if HEAVY
        else orders_points(spark, sf_dir)
    )
    customers = datasets.customer_points(spark, sf_dir)
    suppliers = datasets.supplier_points(spark, sf_dir)
    events = datasets.event_points(spark, sf_dir)
    n_origins = origins.count()

    # 1) neighborhood join: orders (150k @ sf0.1) x customers (15k), 100 km
    # (heavy: lineitem 600k origins)
    pairs = lambda: radius_join_pairs(origins, customers, JOIN_RADIUS_KM, "km")
    run("radius_join", pairs)
    n_pairs = pairs().count()
    rows["radius_join"] = n_pairs

    # 2) radius search end-to-end with top-k (reference searchMiles shape)
    run("radius_topk", lambda: top_n_per_origin(pairs(), 10))

    # 3) kNN rings (scale path; driver-loop op — not a scaling headline,
    # skipped in heavy/scaling mode)
    if not HEAVY:
        run(
            "knn_rings",
            lambda: knn_join_rings(customers, suppliers, 5),
            lambda: 5 * customers.count(),
        )

    # 4) tile assignment + rollup (heavy mode: 100M synthetic points so the
    # codegen'd tile math, not job overhead, is what's measured)
    if HEAVY:
        n_tile_rows = 100_000_000
        tile_src = datasets.with_point(
            spark.range(0, n_tile_rows, 1, cpus * 4), "id", 37, 91
        )
    else:
        n_tile_rows = None
        tile_src = events

    def tiles():
        return tile_src.select(
            "id",
            exprs.tile_x(F.col("longitude"), 12).alias("tile_x"),
            exprs.tile_y(F.col("latitude"), 12).alias("tile_y"),
        )

    run("tile_assign", tiles, lambda: n_tile_rows or events.count())
    run(
        "tile_rollup",
        lambda: tiles().groupBy("tile_x", "tile_y").agg(F.count("*").alias("n")),
    )

    # 5) image payload: deterministic table -> phash kernel (Arrow batches)
    # fixed partition count across parallelism levels: identical per-batch
    # work, so the scaling measurement isolates parallelism. 32 (not 64):
    # with worker reuse off, each task pays a fresh python-worker import, so
    # fewer, larger tasks amortize it (5.8s -> 3.9s at 60k images).
    run(
        "images_phash",
        lambda: with_computed_phash(images_table(spark, N_IMAGES, partitions=32)),
        lambda: N_IMAGES,
    )

    # 6) text dedup ops over documents (not scaling headline)
    quality: dict[str, float] = {}
    if not HEAVY:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        run("dedup_exact", lambda: exact_dedup(docs))
        run(
            "minhash_lsh",
            lambda: minhash_near_dup_pairs(docs, jaccard_threshold=0.5),
        )

        # 7) ANN: IVF partial-probe timing + recall@3 vs the exact brute
        # top-k (quality line: approximation error is part of the contract).
        # Headline config n_assign=3 / n_probe=4: on this isotropic fixture
        # single assignment is recall-capped ~0.59 at n_probe=4 regardless
        # of codebook quality (no cluster structure to find); redundant
        # assignment is the honest scale lever (similarity.py docstring).
        from geoengine.similarity import cosine_topk_brute, cosine_topk_ivf

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qs = emb.where(F.col("vec_id") % 29 == 0)
        ivf = lambda: cosine_topk_ivf(
            qs, emb, 3, n_centroids=16, n_probe=4, refine_iters=2, n_assign=3
        )
        run("embedding_ivf", ivf)
        exact = set(
            map(tuple, cosine_topk_brute(qs, emb, 3)
                .select("query_id", "neighbor_id").collect())
        )

        # recall curve at the headline redundancy, plus the single-assign
        # reference point — the probe-budget trade a user actually tunes.
        # Build each index ONCE (build_ivf_index) and sweep n_probe against
        # it — the build-once/query-many shape users run at scale, and it
        # keeps the bench's untimed tail short on this steal-prone host.
        from geoengine.similarity import build_ivf_index, cosine_topk_ivf_prebuilt

        def recall_curve(n_assign: int, probes) -> dict[str, float]:
            cent, indexed = build_ivf_index(
                emb, 16, refine_iters=2, n_assign=n_assign
            )
            indexed = indexed.cache()
            out = {}
            for p in probes:
                approx = set(
                    map(
                        tuple,
                        cosine_topk_ivf_prebuilt(qs, cent, indexed, 3,
                                                 n_probe=p)
                        .select("query_id", "neighbor_id").collect(),
                    )
                )
                out[str(p)] = round(len(exact & approx) / len(exact), 4)
            indexed.unpersist()
            return out

        quality["ivf_recall_curve_n_assign3"] = recall_curve(3, (1, 2, 4, 8))
        quality["ivf_recall_at_3"] = quality["ivf_recall_curve_n_assign3"]["4"]
        quality["ivf_recall_n_probe4_n_assign1"] = recall_curve(1, (4,))["4"]

        # clustered-geometry recall: the isotropic table above is the honest
        # WORST case (no structure to find — recall is probe-budget-capped);
        # real embedding corpora have cluster structure, and that is what a
        # user tunes n_probe on. Deterministic 10k x 64d fixture, 24 tight
        # clusters (sigma = 0.05): the codebook locks onto the true
        # clusters, so single assignment + n_probe=4 should stay >= 0.95.
        import numpy as np
        import pandas as pd

        rng = np.random.default_rng(97)
        n_c, dim_c, n_cl = 10_000, 64, 24
        centers = rng.standard_normal((n_cl, dim_c))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        m = (
            centers[rng.integers(0, n_cl, n_c)]
            + 0.05 * rng.standard_normal((n_c, dim_c))
        ).astype(np.float32)
        cdf = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": range(n_c), "embedding": list(map(list, m))}
            )
        ).cache()
        cqs = cdf.where(F.col("vec_id") % 17 == 0)
        exact_c = set(
            map(tuple, cosine_topk_brute(cqs, cdf, 3)
                .select("query_id", "neighbor_id").collect())
        )
        cent_c, cidx = build_ivf_index(cdf, n_cl, refine_iters=2, n_assign=1)
        cidx = cidx.cache()
        appr_c = set(
            map(tuple, cosine_topk_ivf_prebuilt(cqs, cent_c, cidx, 3,
                                                n_probe=4)
                .select("query_id", "neighbor_id").collect())
        )
        quality["ivf_recall_clustered_n_probe4"] = round(
            len(exact_c & appr_c) / len(exact_c), 4
        )
        cidx.unpersist()
        cdf.unpersist()

    # 8) round-5 extras: trajectory rollup + geofence visits over the
    # events fixes. Timed in a SEPARATE block excluded from `value` so the
    # headline total stays comparable round-over-round; the per-query
    # times are still in the artifact (and the dedicated scaling evidence
    # for the window-sort shape lives in BENCH.md round-5).
    secs_extra: dict[str, float] = {}
    if not HEAVY:
        from geoengine.fixtures import polygons_table
        from geoengine.trajectories import geofence_visits, trajectory_stats

        ev_fix = datasets.with_point(
            spark.read.parquet(f"{sf_dir}/events.parquet"), "event_id", 37, 91
        ).select(
            F.col("event_id").alias("id"), "user_id", "ts",
            "latitude", "longitude",
        )
        fences = polygons_table(
            spark, 6, seed=11, half_width_scale=16.0
        ).withColumn("rings", F.array("ring")).drop("ring")
        run("trajectory_stats", lambda: trajectory_stats(ev_fix),
            target=secs_extra)
        run("geofence_visits", lambda: geofence_visits(ev_fix, fences),
            target=secs_extra)

        # spatial_dbscan over the gate's 24-blob fixture at a moderate
        # density (eps=10 km -> avg degree ~15, ~1M-pair graph). Timed
        # with its own loop: the operator persists its pair set and the
        # CC fixpoint blocks, which MUST be released between reps so
        # every rep measures identical cold work.
        import __spark_entry__ as _entry
        from geoengine.clusters import spatial_dbscan

        db_pts = _entry._dbscan_points(spark, sf_dir)

        def run_scoped(name: str, once_fn) -> None:
            """Warm + reps + min bookkeeping for self-forcing operators
            that persist via a cache_registry: every rep releases the
            engine-owned blocks so it measures identical cold work."""
            if warm:
                once_fn()
            times_ = []
            for _ in range(reps):
                t0_ = time.time()
                once_fn()
                times_.append(round(time.time() - t0_, 3))
            rep_times[name] = times_
            secs_extra[name] = sorted(times_)[0]

        def _dbscan_once() -> None:
            reg = []
            force(spatial_dbscan(db_pts, 10.0, 8, cache_registry=reg))
            for h in reg:
                h.unpersist()

        run_scoped("spatial_dbscan", _dbscan_once)

        # emerging hot spots over the events fixes with the gate's
        # 4-day binning (per-slice Gi* + Mann-Kendall)
        from geoengine.index import emerging_hotspots

        em_pts = (
            ev_fix.select(
                "latitude", "longitude",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            )
            .withColumn("bin", F.expr(f"us div {_entry.EMERGE_BIN_US}"))
            .drop("us")
        )

        def _emerge_once() -> None:
            reg = []
            force(emerging_hotspots(em_pts, _entry.EMERGE_HB,
                                    cache_registry=reg))
            for h in reg:
                h.unpersist()

        run_scoped("emerging_hotspots", _emerge_once)

    total = round(sum(secs.values()), 3)
    rps = {
        "neighborhood_join_pairs_per_sec": round(n_pairs / secs["radius_join"], 1),
        "neighborhood_join_origins_per_sec": round(n_origins / secs["radius_join"], 1),
        "tile_assign_rows_per_sec": round(rows["tile_assign"] / secs["tile_assign"], 1),
        "images_phash_per_sec": round(N_IMAGES / secs["images_phash"], 1),
    }
    print(
        json.dumps(
            {
                "metric": "geoengine headline suite wall-clock (min-of-reps)",
                "value": total,
                "unit": "sec",
                "queries": secs,
                "queries_extra": secs_extra,
                "value_median": round(sum(secs_median.values()), 3),
                "queries_median": secs_median,
                "rep_times": rep_times,
                "reps": reps,
                "loadavg": {"start": load_start, "end": loadavg()},
                "idle_gate": idle_gate,
                "sf": sf_dir,
                "cpus": cpus,
                "rows": rows,
                "rows_per_sec": rps,
                "quality": quality,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
