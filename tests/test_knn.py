"""kNN ring-expansion vs brute-force equivalence (exactness property)."""

import numpy as np
import pandas as pd
import pytest

from geoengine.knn import knn_join_brute, knn_join_rings, knn_join_rings_scoped


def _points(seed, n):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "id": [f"p{seed}_{i:05d}" for i in range(n)],
            "latitude": rng.uniform(-75, 75, n),
            "longitude": rng.uniform(-179.9, 179.9, n),
        }
    )


def _key_set(df):
    return set(zip(df["origin_id"], df["neighbor_id"], df["knn_rank"]))


def _ring_loop_only(monkeypatch):
    """Budget 0: the early fallback never fires, so the ring loop (and its
    pole guard) computes every origin it can certify."""
    monkeypatch.setenv("SPARK_GRAFT_KNN_FALLBACK_PAIRS", "0")


def test_rings_equals_brute(spark, monkeypatch):
    _ring_loop_only(monkeypatch)
    o = spark.createDataFrame(_points(11, 200))
    nb = spark.createDataFrame(_points(12, 1000))
    k = 5
    brute = knn_join_brute(o, nb, k).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    rings = knn_join_rings(o, nb, k).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert len(brute) == 200 * k
    assert _key_set(rings) == _key_set(brute)


def test_rings_early_fallback_gate_invariance(spark, monkeypatch):
    """Round-6 optimization guard: the straggler budget gate
    (SPARK_GRAFT_KNN_FALLBACK_PAIRS) only changes WHICH exact branch
    computes an origin's top-k — results with the gate forced off (full
    ring rounds) must equal results with it forced to fire before round
    1."""
    o = spark.createDataFrame(_points(21, 150))
    nb = spark.createDataFrame(_points(22, 800))
    k = 4

    def keys(df):
        return _key_set(
            df.select("origin_id", "neighbor_id", "knn_rank").toPandas()
        )

    monkeypatch.setenv("SPARK_GRAFT_KNN_FALLBACK_PAIRS", "0")  # never fire
    full_rings = keys(knn_join_rings(o, nb, k))
    monkeypatch.setenv("SPARK_GRAFT_KNN_FALLBACK_PAIRS", str(1 << 60))
    early = keys(knn_join_rings(o, nb, k))
    assert full_rings == early
    assert full_rings == keys(knn_join_brute(o, nb, k))


@pytest.mark.parametrize("stats", ["known", "unknown"])
def test_rings_small_problem_skips_ring_loop(spark, stats, monkeypatch):
    """Under the default budget a small problem goes to the exact fallback
    before round 1: only the neighbor and origin frames are cached (no
    per-round ranked/done/pending caches) and the result is exact —
    also when plan statistics are unknown and the neighbor count that
    sizes half_bits doubles as the gate's exact count."""
    import geoengine.knn as K

    if stats == "unknown":
        monkeypatch.setattr(K, "estimated_rows", lambda df: None)
    o = spark.createDataFrame(_points(23, 150))
    nb = spark.createDataFrame(_points(24, 100))
    reg: list = []
    rings = knn_join_rings(o, nb, 5, cache_registry=reg).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert len(reg) == 2
    brute = knn_join_brute(o, nb, 5).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert len(rings) == 150 * 5
    assert _key_set(rings) == _key_set(brute)
    for df in reg:
        df.unpersist()


def test_rings_fallback_spreads_narrow_neighbor_side(spark):
    """Fewer origins than neighbors: the fallback cross join broadcasts the
    origins and streams the neighbors, so a one-partition neighbor source
    is hash-spread first instead of producing every pair in one task."""
    o = spark.createDataFrame(_points(27, 20))
    nb = spark.createDataFrame(_points(28, 600)).coalesce(1)
    rings = knn_join_rings(o, nb, 3)
    plan = rings._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(neighbor_id" in plan
    want = knn_join_brute(o, nb, 3).select(
        "origin_id", "neighbor_id", "knn_rank").toPandas()
    got = rings.select("origin_id", "neighbor_id", "knn_rank").toPandas()
    assert _key_set(got) == _key_set(want)


def test_rings_empty_origins(spark, monkeypatch):
    """No origins: an empty result with the brute surface's columns,
    whichever side of the fallback gate the call lands on."""
    o = spark.createDataFrame(_points(25, 10)).limit(0)
    nb = spark.createDataFrame(_points(26, 50))
    want = knn_join_brute(o, nb, 3).columns
    for budget in ("0", str(64 << 20)):
        monkeypatch.setenv("SPARK_GRAFT_KNN_FALLBACK_PAIRS", budget)
        out = knn_join_rings(o, nb, 3)
        assert out.count() == 0
        assert sorted(out.columns) == sorted(want)


def _n_persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def test_rings_scoped_releases_caches(spark):
    spark.catalog.clearCache()  # isolate from other tests' leftovers
    base = _n_persistent_rdds(spark)
    o = spark.createDataFrame(_points(21, 100))
    nb = spark.createDataFrame(_points(22, 500))
    k = 4
    brute = knn_join_brute(o, nb, k).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    with knn_join_rings_scoped(o, nb, k) as rings_df:
        rings = rings_df.select(
            "origin_id", "neighbor_id", "knn_rank"
        ).toPandas()
        assert _n_persistent_rdds(spark) > base  # caches live inside
    assert _key_set(rings) == _key_set(brute)  # still exact
    assert _n_persistent_rdds(spark) == base  # zero engine-owned blocks left


def test_rings_sparse_neighbors_fallback(spark, monkeypatch):
    _ring_loop_only(monkeypatch)
    # fewer neighbors than k forces the brute fallback path
    o = spark.createDataFrame(_points(13, 50))
    nb = spark.createDataFrame(_points(14, 3))
    out = knn_join_rings(o, nb, 5, max_rounds=2).toPandas()
    assert (out.groupby("origin_id").size() == 3).all()


def test_rings_polar_origins_equal_brute(spark, monkeypatch):
    _ring_loop_only(monkeypatch)
    # regression: origins within one cell of the pole must not be certified
    # by the ring bound — an over-the-pole neighbor (large delta-lon) can be
    # closer than the grid-separation guarantee; pole guard routes them to
    # the exact fallback
    rng = np.random.default_rng(17)
    o = pd.DataFrame(
        {
            "id": [f"o{i}" for i in range(40)],
            "latitude": np.concatenate(
                [rng.uniform(88.0, 89.99, 20), rng.uniform(-89.99, -88.0, 20)]
            ),
            "longitude": rng.uniform(-179.9, 179.9, 40),
        }
    )
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(600)],
            "latitude": np.concatenate(
                [rng.uniform(85.0, 90.0, 200), rng.uniform(-90.0, -85.0, 200),
                 rng.uniform(-80, 80, 200)]
            ),
            "longitude": rng.uniform(-180.0, 180.0, 600),
        }
    )
    brute = knn_join_brute(
        spark.createDataFrame(o), spark.createDataFrame(nb), 4
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    rings = knn_join_rings(
        spark.createDataFrame(o), spark.createDataFrame(nb), 4, half_bits=5
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_rings_clustered_hot_region(spark, monkeypatch):
    _ring_loop_only(monkeypatch)
    # dense cluster (hot cells) + far outliers
    rng = np.random.default_rng(15)
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(500)],
            "latitude": np.concatenate(
                [rng.uniform(40, 41, 450), rng.uniform(-60, 60, 50)]
            ),
            "longitude": np.concatenate(
                [rng.uniform(-74, -73, 450), rng.uniform(-170, 170, 50)]
            ),
        }
    )
    o = spark.createDataFrame(_points(16, 100))
    brute = knn_join_brute(o, spark.createDataFrame(nb), 3).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    rings = knn_join_rings(o, spark.createDataFrame(nb), 3).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_rings_near_pole_band_edge_window(spark, monkeypatch):
    _ring_loop_only(monkeypatch)
    # round-3 review regression: with the old cos clamp at 89.9 deg, an
    # origin whose certification band edge (|lat| + (r+1) cells) lands in
    # (89.9, 90) got an INFLATED lon bound and could be over-certified.
    # Fine grid (half_bits=9, cell ~0.352 deg) + origins chosen so ring 1's
    # band edge falls inside that window; rings must still equal brute.
    rng = np.random.default_rng(19)
    cell = 180.0 / (1 << 9)
    # band edge for r=1 is |lat| + 2*cell: target 89.91..89.99
    lats = 89.95 - 2 * cell - rng.uniform(0.0, 0.08, 30)
    o = pd.DataFrame(
        {
            "id": [f"o{i}" for i in range(30)],
            "latitude": lats,
            "longitude": rng.uniform(-179.9, 179.9, 30),
        }
    )
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(800)],
            "latitude": rng.uniform(85.0, 90.0, 800),
            "longitude": rng.uniform(-180.0, 180.0, 800),
        }
    )
    brute = knn_join_brute(
        spark.createDataFrame(o), spark.createDataFrame(nb), 3
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    rings = knn_join_rings(
        spark.createDataFrame(o), spark.createDataFrame(nb), 3, half_bits=9
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_plan_stats_fallback(spark):
    """The one private-API seam (df._jdf py4j chain): when the surface is
    absent or renamed (Spark Connect, future JVM refactor) the stats
    helpers must degrade to 'unknown', not raise."""
    from geoengine.knn import _plan_stats, estimated_rows

    df = spark.range(10)

    class _NoQE:  # simulates a _jdf whose JVM surface changed shape
        def __getattr__(self, name):
            raise AttributeError(name)

    df._jdf = _NoQE()
    assert _plan_stats(df) == (None, None)
    assert estimated_rows(df) is None


def test_knn_per_row_k_brute(spark):
    """Per-row k on the brute surface: each origin keeps ITS OWN cap of
    nearest neighbors; rings refuses per-row k loudly; auto routes
    per-row k to brute."""
    import pandas as pd_
    import pytest as pytest_

    from geoengine.knn import knn_join, knn_join_rings

    rng = np.random.default_rng(31)
    o = pd_.DataFrame({
        "id": [f"o{i}" for i in range(30)],
        "latitude": rng.uniform(-50, 50, 30),
        "longitude": rng.uniform(-150, 150, 30),
        "k": (np.arange(30) % 4) + 1,
    })
    nb = pd_.DataFrame({
        "id": [f"n{i}" for i in range(80)],
        "latitude": rng.uniform(-50, 50, 80),
        "longitude": rng.uniform(-150, 150, 80),
    })
    got = knn_join(
        spark.createDataFrame(o), spark.createDataFrame(nb), "origin_k"
    ).toPandas()
    counts = got.groupby("origin_id").size()
    caps = o.set_index("id")["k"]
    assert (counts == caps[counts.index]).all()
    # kept sets are rank-prefixes: max kept rank == count per origin
    assert (got.groupby("origin_id")["knn_rank"].max() == counts).all()
    with pytest_.raises(TypeError):
        knn_join_rings(
            spark.createDataFrame(o), spark.createDataFrame(nb), "origin_k"
        )


def test_per_row_k_broadcast_gate(spark):
    """Per-row k routes to brute (broadcasts neighbors): a neighbor side
    past the broadcast gate must raise with the rings recipe, and
    strategy='brute' must stay available as the explicit override."""
    import pytest
    from geoengine.knn import knn_join

    o = spark.createDataFrame(
        pd.DataFrame({"id": [1], "latitude": [0.0], "longitude": [0.0],
                      "k": [2]})
    )
    nb = spark.createDataFrame(
        pd.DataFrame({"id": range(50), "latitude": [0.0] * 50,
                      "longitude": [float(i) / 10 for i in range(50)]})
    )
    with pytest.raises(ValueError, match="rings"):
        knn_join(o, nb, "origin_k", broadcast_threshold_rows=10)
    got = knn_join(o, nb, "origin_k", strategy="brute").collect()
    assert len(got) == 2
    # small neighbor side passes the gate on the auto path
    assert len(knn_join(o, nb, "origin_k", broadcast_threshold_rows=1000).collect()) == 2


def test_per_row_k_gate_with_broadcasts_disabled(spark, sf_dir):
    """Session conf autoBroadcastJoinThreshold=-1 disables CATALYST's
    implicit broadcasts — it must NOT make the per-row-k gate reject a
    tiny file-backed neighbor table (the gate falls back to the 64 MiB
    hard cap), while the auto router still respects it for uniform k
    (routes to rings, no forced broadcast)."""
    from pyspark.sql import functions as F

    from geoengine import datasets
    from geoengine.knn import knn_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = datasets.customer_points(spark, sf_dir).withColumn(
            "k", (1 + F.col("id") % 3).cast("int")
        )
        nb = datasets.supplier_points(spark, sf_dir)
        got = knn_join(o.limit(5), nb, "origin_k")
        assert got.count() > 0  # tiny parquet side passes the cap gate
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
