"""k-nearest-neighbor join via grid ring expansion (north-rule extension;
no reference counterpart — the reference only does radius search).

Strategies:
  brute  — crossJoin(broadcast(neighbors)) + window top-k. Exact; right
           physical plan whenever the neighbor side fits in a broadcast
           (dimension-sized tables).
  rings  — scale path: probe ring r of the grid around each origin's cell,
           keep origins whose k-th candidate distance is provably inside the
           ring's guaranteed-covered circle, re-probe the rest at 2r
           (driver loop, anti-join), brute-force fallback for stragglers.
           Exactness argument: a point outside Chebyshev ring r is at least
           min(r * cell_lat_km, 2R*asin(cos(band_edge)*sin(pi*r/n))) away
           (meridian arc / exact great-circle chord; proof at the bound's
           construction site below), so any origin whose k-th distance is
           below that bound cannot gain a closer neighbor from outside.

Both return identical results (property-tested); strategy='auto' picks
brute when the neighbor side is small.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import exprs
from .geodesy import EARTH_RADIUS_KM
from .join import validate_points, with_grid_cell

KM_PER_DEG = math.pi * EARTH_RADIUS_KM / 180.0


def _ranked(pairs: DataFrame, k) -> DataFrame:
    """``k`` is an int (uniform) or a column name / Column carrying the
    per-origin k (the SearchInquery per-row maxResults model) — same
    single window either way."""
    cap = F.col(k) if isinstance(k, str) else (
        k if isinstance(k, Column) else F.lit(int(k))
    )
    w = Window.partitionBy("origin_id").orderBy(
        F.col("distance_km").asc(), F.col("neighbor_id").asc()
    )
    return pairs.withColumn("knn_rank", F.row_number().over(w)).where(
        F.col("knn_rank") <= cap
    )


def _pairs_dist(o: DataFrame, nb: DataFrame, how: str, on=None) -> DataFrame:
    d = exprs.dist_km(
        F.col("origin_latitude"),
        F.col("origin_longitude"),
        F.col("neighbor_latitude"),
        F.col("neighbor_longitude"),
    )
    j = o.crossJoin(nb) if on is None else o.join(nb, on, how)
    return j.withColumn("distance_km", d)


def _prefixed(df: DataFrame, p: str) -> DataFrame:
    return df.select([F.col(c).alias(p + c) for c in df.columns])


def knn_join_brute(origins: DataFrame, neighbors: DataFrame, k) -> DataFrame:
    """Broadcast cross-join kNN. ``k``: int, or the name of a PER-ROW cap
    column as it appears after origin prefixing (an origins column ``k``
    becomes ``origin_k`` here) — the SearchInquery per-row maxResults
    model on the kNN surface."""
    from .join import spread_small_input

    o = _prefixed(validate_points(origins), "origin_")
    # narrow-scan origins otherwise run the whole crossJoin+distance+window
    # pipeline single-task (guide §2.2); hash on origin_id also lets the
    # top-k window reuse the partitioning
    o = spread_small_input(o, F.col("origin_id"))
    nb = _prefixed(validate_points(neighbors), "neighbor_")
    return _ranked(_pairs_dist(o, F.broadcast(nb), "cross"), k)


def _plan_stats(df: DataFrame) -> tuple[int | None, int | None]:
    """(rowCount, sizeInBytes) from Catalyst plan statistics — NO job is
    triggered (unlike ``df.count()``). rowCount is None unless the catalog
    has exact stats; sizeInBytes for file sources is the COMPRESSED file
    size (can be 10-20x below in-memory size).

    This is the engine's ONE private-API dependency: ``df._jdf`` +
    the py4j ``queryExecution().optimizedPlan().stats()`` chain. Exercised
    against pyspark 4.1.x (classic, non-Connect); under Spark Connect
    ``_jdf`` does not exist and any JVM-side rename raises — both land in
    the except arm, and every caller (estimated_rows -> strategy/
    resolution choices in knn/similarity) treats (None, None) as "stats
    unknown" and falls back to a safe default plan, never an error.
    tests/test_knn.py::test_plan_stats_fallback forces this path."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        rows = int(str(rc.get())) if rc.isDefined() else None
        size = int(str(stats.sizeInBytes()))
        return rows, (size if size > 0 else None)
    except Exception:  # pragma: no cover - py4j surface differences
        return None, None


def estimated_rows(df: DataFrame, assumed_row_bytes: int = 48) -> int | None:
    """Plan-statistics row estimate; log-scale accuracy only (strategy and
    resolution choices, never correctness). Placeholder sizes from
    stat-less leaves (spark.sql.defaultSizeInBytes, ~Long.MaxValue) are
    treated as unknown, not as a measurement."""
    rows, size = _plan_stats(df)
    if rows is not None:
        return rows
    if size is None or size >= _STATS_UNKNOWN_BYTES:
        return None
    return max(size // assumed_row_bytes, 1)


def knn_join_rings(
    origins: DataFrame,
    neighbors: DataFrame,
    k: int,
    half_bits: int | None = None,
    max_rounds: int = 3,
    neighbor_count: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Exact kNN by iterative ring probing (see module docstring).

    Round r probes ONLY the new Chebyshev shell (prev_r, r] — prior rounds'
    candidates are carried forward as each pending origin's top-k-so-far
    (top-k of a union == top-k of per-part top-k, so nothing is lost and no
    cell is ever joined twice). Certification safety:
      - ring bound: a point outside Chebyshev ring r is at least
        min(r * cell_lat_km, 2R*asin(cos(lat_extent)*sin(pi*r/n))) away —
        the exact meridian-arc / great-circle-chord pair, derivation in
        the loop body below (no planar approximation, no incidental slack);
      - pole guard: origins whose ring extent reaches a pole are never
        certified (over-the-pole neighbors break the grid-separation bound)
        and fall through to the exact fallback;
      - the fallback is a plain crossJoin with NO broadcast hint — the rings
        strategy is chosen precisely when the neighbor side may be too big
        to broadcast, so stragglers must not force one (AQE still picks a
        broadcast at runtime if the side turns out small).

    Fallback gate: the neighbor and origin frames are counted exactly up
    front (each count fills a cache round 1 reads anyway, except for a
    stat-less neighbor source, counted once before its cache to also size
    ``half_bits``). Before EVERY round — round 1 included — a straggler
    set with pending x neighbors <= the pairs budget (4M pairs per core,
    measured; see ``_FALLBACK_PAIRS_PER_CORE``) goes straight to the exact
    fallback instead of the ring loop. A small problem therefore caches
    only those two frames and runs no ring round at all; a large neighbor
    table alone exceeds the budget, so the scale path is unchanged.
    ``neighbor_count`` (caller-supplied or a plan-stats estimate) only
    sizes ``half_bits``; the gate multiplies exact counts.

    Cache lifetime: the per-round nb/pending/ranked/done caches feed the
    RETURNED lazy plan (the union only materializes when the caller acts),
    so they cannot be unpersisted here without forcing eager per-round
    materialization. They are MEMORY_AND_DISK-default, LRU-evictable
    blocks. Pass ``cache_registry`` (a list) to receive every DataFrame
    this call caches and unpersist them once the result is materialized —
    or use ``knn_join_rings_scoped`` which does that automatically;
    otherwise long-lived sessions issuing many unrelated kNN jobs should
    spark.catalog.clearCache() between them if storage pressure matters.
    """
    if not isinstance(k, int):
        # the per-round certification arithmetic (k-th distance vs ring
        # bound) assumes one global k; for per-row caps run the brute
        # surface (knn_join(..., strategy='brute', k='origin_<col>')) or
        # rings at max(k) then filter knn_rank <= the per-row cap
        raise TypeError(
            "knn_join_rings requires an int k; use knn_join_brute for a "
            "per-row k column"
        )

    def _cached(df: DataFrame) -> DataFrame:
        df = df.cache()
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    from .join import spread_small_input

    o_all = _prefixed(validate_points(origins), "origin_")
    # spread a narrow origin scan before the per-round shell explode+join
    # (guide §2.2); hash on origin_id so every round's top-k window and
    # per-origin aggregations reuse the partitioning
    o_all = spread_small_input(o_all, F.col("origin_id"))
    nb = _prefixed(validate_points(neighbors), "neighbor_")

    nb_n = None  # exact neighbor count, for the fallback gate
    if half_bits is None:
        if neighbor_count is None:
            neighbor_count = estimated_rows(nb)
            if neighbor_count is None:
                neighbor_count = nb_n = nb.count()
        # aim for ~4k neighbors expected inside ring 1 (9 cells)
        density_target = max(k * 4, 16)
        cells_needed = max(neighbor_count * 9 // density_target, 1)
        half_bits = max(2, min(20, int(math.log2(max(cells_needed, 4))) // 2))
    hb = half_bits
    n = 1 << hb
    lat_cell_km = (180.0 / n) * KM_PER_DEG

    nb = _cached(with_grid_cell(
        nb, hb, lat="neighbor_latitude", lon="neighbor_longitude", out="n_gkey"
    ))
    pending = _cached(o_all.withColumn(
        "_oix", exprs.grid_ix(F.col("origin_longitude"), hb)
    ).withColumn("_oiy", exprs.grid_iy(F.col("origin_latitude"), hb)))

    # exact sizes for the fallback gate; each count materializes a cache
    # that round 1 (or the fallback) reads anyway
    if nb_n is None:
        nb_n = nb.count()
    pending_n = pending.count()
    budget = _fallback_pairs_budget(nb.sparkSession)

    results = []
    acc: DataFrame | None = None  # pending origins' top-k-so-far candidates
    r, prev_r = 1, -1
    for _ in range(max_rounds):
        if 2 * r + 1 > n:
            break  # shell would wrap the globe: no disjointness, fall back
        if pending_n == 0 or pending_n * nb_n <= budget:
            # the EXACT fallback cross join is then a bounded one-stage
            # job, identical in results to (more) ring rounds but without
            # their probe-join/window/anti-join job chains (a 1,500 x 100
            # kNN: 15 -> 9 Spark jobs per call)
            break
        dx = F.explode(F.sequence(F.lit(-r), F.lit(r)))
        dy = F.explode(F.sequence(F.lit(-r), F.lit(r)))
        probe = (
            pending.withColumn("_dx", dx)
            .withColumn("_dy", dy)
            # new shell only: Chebyshev distance in (prev_r, r]
            .where(F.greatest(F.abs(F.col("_dx")), F.abs(F.col("_dy"))) > prev_r)
            # latitude cells outside the grid don't exist (no clamp: clamping
            # would duplicate edge cells across shells)
            .where(
                (F.col("_oiy") + F.col("_dy") >= 0)
                & (F.col("_oiy") + F.col("_dy") <= n - 1)
            )
            .withColumn(
                "n_gkey",
                exprs.grid_key(
                    F.pmod(F.col("_oix") + F.col("_dx"), F.lit(n)).cast("long"),
                    (F.col("_oiy") + F.col("_dy")).cast("long"),
                    hb,
                ),
            )
            .drop("_dx", "_dy")
        )
        new_pairs = _pairs_dist(probe, nb, "inner", on="n_gkey").drop("n_gkey")
        all_cand = new_pairs if acc is None else acc.unionByName(new_pairs)
        ranked = _cached(_ranked(all_cand, k))  # read 3x: kth, done, carry
        # Guaranteed-covered radius of ring r at this origin's latitude —
        # RIGOROUS separation bound for any neighbor outside Chebyshev
        # ring r. Case split on the index gap:
        #   |d_iy| > r  -> latitude separation > r cells -> great-circle
        #                  distance >= r * lat_cell_km (meridian arc exact);
        #   |d_iy| <= r AND |d_ix| > r -> both points lie in the band
        #                  |phi| <= lat_extent (= |lat| + (r+1) cells) and
        #                  their wrapped longitude separation exceeds
        #                  d_lambda = r * 2*pi/n. The great-circle distance
        #                  of two band points at lon separation d_lambda is
        #                  minimized with both at the band edge (maximize
        #                  cos d = cos(p1-p2) - 2 cos p1 cos p2 sin^2(dl/2):
        #                  the first term peaks at p1 == p2 and the second
        #                  shrinks as |p| grows, so the corner p1 = p2 =
        #                  lat_extent wins), giving EXACTLY
        #                  2R * asin(cos(lat_extent) * sin(d_lambda/2)) —
        #                  monotone in d_lambda on [0, pi], and d_lambda <=
        #                  pi*(n-1)/n by the shell-wrap guard above.
        # The round-2 planar product (r * 2*lat_cell_km*cos) relied on
        # incidental slack; this is the chord formula itself, so future
        # lat_extent tuning cannot silently break certification.
        # NO clamp on lat_extent: past 90 deg the cosine goes negative, the
        # asin goes negative, and guar_lon refuses certification by itself —
        # a clamp at 89.9 would INFLATE the bound for origins whose band
        # edge falls in (89.9, 90) and over-certify near the poles
        lat_extent = F.abs(F.col("origin_latitude")) + (r + 1) * 180.0 / n
        cos_worst = F.cos(lat_extent * math.pi / 180.0)
        guar_lon = (
            2.0 * EARTH_RADIUS_KM
            * F.asin(cos_worst * math.sin(math.pi * r / n))
        )
        guar = F.least(F.lit(float(r) * lat_cell_km), guar_lon)
        kth = (
            ranked.groupBy("origin_id")
            .agg(F.max("distance_km").alias("_dk"), F.count("*").alias("_cnt"))
        )
        cand = ranked.join(kth, "origin_id")
        done = _cached(  # read twice (anti-join + union)
            cand.where(
                (F.col("_cnt") >= k)
                & (F.col("_dk") <= guar)
                & (lat_extent < 90.0)  # pole guard: never certify over-pole
            )
            .drop("_dk", "_cnt", "_oix", "_oiy")
        )
        results.append(done)
        done_ids = done.select("origin_id").distinct()
        pending = _cached(pending.join(done_ids, "origin_id", "left_anti"))
        # exact straggler count for the next round's budget gate; the
        # count fully materializes the pending cache, work the next
        # round (or the final action) needs anyway
        pending_n = pending.count()
        acc = ranked.drop("knn_rank").join(done_ids, "origin_id", "left_anti")
        prev_r, r = r, r * 2

    # exact fallback for origins no round could certify — NO broadcast hint:
    # the neighbor side may exceed broadcast capacity (that's why rings was
    # selected); AQE may still pick a broadcast when it turns out small.
    # With no origins at all it still runs, as the empty result's schema.
    if pending_n or not results:
        nb_side = nb.drop("n_gkey")
        if pending_n < nb_n:
            # the cross join broadcasts the smaller side and streams the
            # other: a narrow neighbor scan would stream every pair through
            # one task (4.2k x 15k origins x neighbors: > 13 min, vs 66 s
            # spread over 4 cores)
            nb_side = spread_small_input(nb_side, F.col("neighbor_id"))
        rest = _ranked(
            _pairs_dist(pending.drop("_oix", "_oiy"), nb_side, "cross"), k
        )
        results.append(rest)

    out = results[0]
    for x in results[1:]:
        out = out.unionByName(x)
    return out


from contextlib import contextmanager


@contextmanager
def knn_join_rings_scoped(
    origins: DataFrame, neighbors: DataFrame, k: int, **kw
):
    """Context-managed kNN rings join: yields the result DataFrame and
    unpersists every engine-owned per-round cache block on exit —
    materialize (collect/write) INSIDE the block. Long-lived sessions get
    zero leaked storage without a global spark.catalog.clearCache()."""
    caches: list[DataFrame] = []
    try:
        yield knn_join_rings(origins, neighbors, k, cache_registry=caches,
                             **kw)
    finally:
        for df in caches:
            df.unpersist()


# stat-less leaves report spark.sql.defaultSizeInBytes (Long.MaxValue by
# default) — any "size" past this is a placeholder, not a measurement
_STATS_UNKNOWN_BYTES = 1 << 48


# candidate pairs per core below which the exact cross join beats the ring
# loop. Measured at 4 cores on sf0.1 (orders x 15k customers, k=5, warm,
# min of 2): the ring loop costs a near-fixed ~24-29 s wall / 45-61 CPU s
# from 1.6M to 63M pairs, while the cross join grows with the pairs —
# 15.6M: 9.6 s / 35 CPU s, 31M: 27.5 s / 92 CPU s, 63M: 66 s. The crossover
# is ~22M pairs in CPU and ~31M in wall time, so 4M pairs per core (16M at
# 4 cores) keeps a margin on both.
_FALLBACK_PAIRS_PER_CORE = 4 << 20


def _fallback_pairs_budget(spark) -> int:
    """Rings early-fallback budget: once |pending| * |neighbors| fits this
    many candidate pairs, the EXACT cross-join fallback finishes the
    origins in one stage instead of paying (further) ring rounds'
    sequential-job chains. The ring loop's cost is mostly per-job latency
    while the cross join's is pairs spread over the cores, so the budget
    scales with the session's default parallelism. Overridable through
    SPARK_GRAFT_KNN_FALLBACK_PAIRS, read at call time."""
    env = os.environ.get("SPARK_GRAFT_KNN_FALLBACK_PAIRS")
    if env is not None:
        return int(env)
    return _FALLBACK_PAIRS_PER_CORE * spark.sparkContext.defaultParallelism


_BROADCAST_HARD_CAP = 64 << 20


def _neighbor_broadcast_fit(
    neighbors: DataFrame,
    rows_threshold: int,
    bytes_threshold: int,
) -> tuple[bool | None, int | None, int | None]:
    """The ONE stats/threshold decision both knn_join gates share:
    (fits, rows, size) where fits is True (broadcast-small), False
    (demonstrably big), or None (stats unknown). Callers resolve
    ``bytes_threshold`` themselves — the two gates treat a
    broadcasts-disabled session (conf -1/0 -> _session_broadcast_bytes 0)
    differently by design: the auto router respects it and falls to rings
    (0 here makes every known size 'not fit'), while the per-row-k gate
    substitutes the 64 MiB hard cap (the conf forbids CATALYST's implicit
    broadcasts, not the explicit F.broadcast hint brute uses — a 0 gate
    would wrongly raise on a 2 KB table that worked before the gate
    existed)."""
    rows, size = _plan_stats(neighbors)
    if size is not None and size >= _STATS_UNKNOWN_BYTES:
        size = None  # defaultSizeInBytes placeholder, not a measurement
    if rows is None and size is None:
        return None, None, None
    fits = rows <= rows_threshold if rows is not None else size <= bytes_threshold
    return fits, rows, size


def _session_broadcast_bytes(df: DataFrame, cap: int = 64 << 20) -> int:
    """Broadcast gate keyed off the session's own
    spark.sql.autoBroadcastJoinThreshold (x6: parquet sizeInBytes is
    compressed, Catalyst's knob is in-memory-ish) but HARD-CAPPED at
    64 MiB compressed — the gate forces an explicit F.broadcast and
    compressed parquet can expand 10-20x in memory, so a session tuned
    with a big threshold must not drag the gate past ~1.3 GB of build-side
    heap. A small session threshold shrinks the gate proportionally; an
    DISABLED conf (-1/0 — the operator explicitly forbade broadcasts)
    returns 0 so the size gate never forces one; an unparsable conf falls
    back to the cap."""
    try:
        raw = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s = str(raw).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                       ("b", 1)):
            if s.endswith(suf):
                s, mult = s[: -len(suf)], m
                break
        v = int(float(s)) * mult
        return min(v * 6, cap) if v > 0 else 0
    except Exception:  # pragma: no cover - conf surface differences
        return cap


def knn_join(
    origins: DataFrame,
    neighbors: DataFrame,
    k: int,
    strategy: str = "auto",
    broadcast_threshold_rows: int = 5_000_000,
    broadcast_threshold_bytes: int | None = None,
    **kw,
) -> DataFrame:
    per_row_k = isinstance(k, (str, Column))
    if per_row_k:
        # per-row k (column name/Column) runs on the brute surface only —
        # the ring loop's certification arithmetic assumes one global k.
        # An EXPLICIT rings request with per-row k fails loudly rather
        # than silently broadcasting the (possibly huge) neighbor side.
        if strategy == "rings":
            raise TypeError(
                "strategy='rings' cannot honor a per-row k column; use "
                "strategy='brute'/'auto', or rings at max(k) then filter "
                "knn_rank <= the per-row cap"
            )
        # brute F.broadcast()s the whole neighbor side: size-gate it with
        # the same plan-stats decision the auto path uses, so a huge
        # neighbor table raises HERE (with the rings-at-max-k recipe)
        # instead of OOMing an executor. strategy='brute' is the explicit
        # override. A broadcasts-disabled session falls back to the hard
        # cap (see _neighbor_broadcast_fit — rings is not an option here).
        if strategy != "brute":
            bt = (
                broadcast_threshold_bytes
                if broadcast_threshold_bytes is not None
                else (_session_broadcast_bytes(neighbors)
                      or _BROADCAST_HARD_CAP)
            )
            fits, rows, size = _neighbor_broadcast_fit(
                neighbors, broadcast_threshold_rows, bt
            )
            if fits is False:
                raise ValueError(
                    "per-row k routes to knn_join_brute, which broadcasts "
                    f"the neighbor side (~{rows if rows is not None else size} "
                    f"{'rows' if rows is not None else 'bytes'} — past the "
                    "broadcast gate). Run knn_join(..., k=max_k, "
                    "strategy='rings') then filter knn_rank <= the per-row "
                    "cap, or pass strategy='brute' to force the broadcast."
                )
            if fits is None:
                import warnings

                warnings.warn(
                    "per-row k with a stat-less neighbor source: cannot "
                    "size-gate the brute broadcast; verify the neighbor "
                    "side is broadcast-small or use rings at max(k)",
                    stacklevel=2,
                )
        return knn_join_brute(origins, neighbors, k)
    k = int(k)  # accept numpy integer scalars from pandas pipelines
    if strategy == "brute":
        return knn_join_brute(origins, neighbors, k)
    if strategy == "rings":
        return knn_join_rings(origins, neighbors, k, **kw)
    # auto: plan statistics (no job — an exact count() here would eagerly
    # execute at plan-build time). Gate on BYTES when only file sizes are
    # known: parquet sizeInBytes is compressed, so a row estimate derived
    # from it under-counts 10-20x; the byte gate follows the session's
    # autoBroadcastJoinThreshold (x6 for compression) so small-executor
    # clusters configured with a low broadcast budget never get a ~GB
    # in-memory broadcast from a "small" file.
    if broadcast_threshold_bytes is None:
        broadcast_threshold_bytes = _session_broadcast_bytes(neighbors)
    fits, rows, size = _neighbor_broadcast_fit(
        neighbors, broadcast_threshold_rows, broadcast_threshold_bytes
    )
    if fits is None:
        # stat-less source (JDBC/RDD-backed leaf): no eager count HERE —
        # route conservatively to rings (broadcasting an unknown-size side
        # is the unsafe direction). Rings counts the neighbor side once
        # (sizing half_bits and its fallback gate) and its origin frame.
        return knn_join_rings(origins, neighbors, k, **kw)
    if fits:
        return knn_join_brute(origins, neighbors, k)
    # forward the estimate so rings doesn't redo the stats round-trip
    kw.setdefault(
        "neighbor_count", rows if rows is not None else max(size // 48, 1)
    )
    return knn_join_rings(origins, neighbors, k, **kw)
