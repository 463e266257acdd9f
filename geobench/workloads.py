"""The benchmark's workloads: each op is one public geoengine call.

An op builds its result DataFrame from the loaded inputs and returns it
with the ``cache_registry`` it passed (empty when the API has none); the
runner forces the DataFrame into a ``noop`` sink and then releases every
registered block, as a user of those APIs would.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoengine import datasets

SEARCH_KM = 100.0
SEARCH_MAX = 10
KNN_K = 5
PIP_HALF_BITS = 8
MINHASH_T, SIMHASH_T, COSINE_T = 0.8, 0.97, 0.95
TF_DIM = 64
DBSCAN_EPS_KM, DBSCAN_MIN_PTS = 10.0, 8
KDE_BW_KM, KDE_HB = 100.0, 7
EMERGE_HB, EMERGE_BIN_US = 4, 345_600_000_000  # 4-day slices

WORKLOADS = {
    "radius_search": ("search", "search_shuffle", "knn", "pip"),
    "near_dup": ("minhash_dup", "simhash_dup", "cosine_dup", "phash_dup"),
    "density": ("dbscan", "kde", "hotspots"),
}

# the generated tables each workload reads
TABLES = {
    "radius_search": ("customer", "supplier", "orders", "lineitem",
                      "polygons"),
    "near_dup": ("documents", "images"),
    "density": ("events",),
}


@dataclass
class Inputs:
    """DataFrames over the stored inputs (lazily defined, never cached)."""

    spark: object
    work: str
    seed: int
    sizes: dict
    frames: dict = field(default_factory=dict)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(f"{self.work}/{name}.parquet")

    def __getattr__(self, name):
        frames = self.__dict__["frames"]
        if name not in frames:
            frames[name] = getattr(_Frames, name)(self)
        return frames[name]


class _Frames:
    """Input derivations, following the test data's point recipes."""

    @staticmethod
    def orders(i: Inputs) -> DataFrame:
        return datasets.with_point(i.read("orders"), "o_orderkey", 41, 97) \
            .select(F.col("o_orderkey").alias("id"), "latitude", "longitude")

    @staticmethod
    def customers(i: Inputs) -> DataFrame:
        return datasets.customer_points(i.spark, i.work)

    @staticmethod
    def suppliers(i: Inputs) -> DataFrame:
        return datasets.supplier_points(i.spark, i.work)

    @staticmethod
    def lineitem(i: Inputs) -> DataFrame:
        # bench.py's lineitem_points: spread the single-file scan, then
        # derive the point from l_orderkey * 8 + l_linenumber
        par = i.spark.sparkContext.defaultParallelism * 2
        df = i.read("lineitem").repartition(par).withColumn(
            "lkey", F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        return datasets.with_point(df, "lkey", 41, 97).select(
            F.col("lkey").alias("id"), "latitude", "longitude")

    @staticmethod
    def polygons(i: Inputs) -> DataFrame:
        return i.read("polygons")

    @staticmethod
    def docs(i: Inputs) -> DataFrame:
        return i.read("docs_subset")

    @staticmethod
    def tf(i: Inputs) -> DataFrame:
        from geoengine.similarity import hashed_tf_vectors

        return hashed_tf_vectors(i.docs, dim=TF_DIM)

    @staticmethod
    def images(i: Inputs) -> DataFrame:
        return i.read("images")

    @staticmethod
    def event_points(i: Inputs) -> DataFrame:
        return datasets.event_points(i.spark, i.work).select(
            "id", "latitude", "longitude")

    @staticmethod
    def dbscan_points(i: Inputs) -> DataFrame:
        """The 24-blob dbscan fixture over the event ids, with seeded
        salts: 80% in blobs whose centres sit >= 10 deg apart, 20%
        uniform background."""
        from geoengine.text import hash_bucket

        from geobench.inputs import dbscan_blob_width

        ev = i.read("events").select("event_id")
        width = dbscan_blob_width(i.sizes["events"])
        u0 = hash_bucket("event_id", f"dbk{i.seed}")
        ua = hash_bucket("event_id", f"dba{i.seed}")
        ub = hash_bucket("event_id", f"dbb{i.seed}")
        ci = F.floor(u0 * F.lit(30.0))  # 0..23 for the clustered 80%
        clat = (ci * 7) % 12 * F.lit(10.0) - F.lit(55.0)
        clon = (ci * 13) % 24 * F.lit(15.0) - F.lit(172.5)
        lat = F.when(u0 < 0.8, clat + (ua - 0.5) * width) \
            .otherwise((ua - 0.5) * 132.0)
        lon = F.when(u0 < 0.8, clon + (ub - 0.5) * width) \
            .otherwise((ub - 0.5) * 356.0)
        return ev.select(F.col("event_id").alias("id"),
                         lat.alias("latitude"), lon.alias("longitude"))

    @staticmethod
    def hotspot_points(i: Inputs) -> DataFrame:
        ev = i.read("events")
        return (
            datasets.with_point(ev, "event_id", 37, 91)
            .select("latitude", "longitude",
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
            .withColumn("bin", F.expr(f"us div {EMERGE_BIN_US}"))
            .drop("us")
        )


# ---------------------------------------------------------------------------
# ops: (inputs) -> (result DataFrame, cache_registry list)
# ---------------------------------------------------------------------------

def op_search(i: Inputs):
    from geoengine.engine import search_km

    return search_km(i.orders, i.customers, SEARCH_KM, SEARCH_MAX), []


def op_search_shuffle(i: Inputs):
    from geoengine.engine import search_km

    return search_km(i.customers, i.lineitem, SEARCH_KM, SEARCH_MAX), []


# search_shuffle runs with the session's broadcast threshold off: at the
# benchmark's size the neighbour side would otherwise fit a broadcast,
# where at sf0.1 (600k lineitem points) it does not
SESSION_CONF = {
    "search_shuffle": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}


def op_knn(i: Inputs):
    from geoengine.knn import knn_join_rings

    reg: list = []
    return knn_join_rings(i.customers, i.suppliers, KNN_K,
                          cache_registry=reg), reg


def op_pip(i: Inputs):
    from geoengine.pip import points_in_multipolygons

    return points_in_multipolygons(i.orders, i.polygons,
                                   half_bits=PIP_HALF_BITS), []


def op_minhash_dup(i: Inputs):
    from geoengine.text import lsh_verified_jaccard_pairs

    return lsh_verified_jaccard_pairs(i.docs, threshold=MINHASH_T,
                                      prefilter="minhash"), []


def op_simhash_dup(i: Inputs):
    from geoengine.text import lsh_verified_jaccard_pairs

    return lsh_verified_jaccard_pairs(i.docs, threshold=SIMHASH_T,
                                      prefilter="simhash"), []


def op_cosine_dup(i: Inputs):
    from geoengine.similarity import cosine_near_dup_exact

    return cosine_near_dup_exact(i.tf, COSINE_T, id_col="doc",
                                 dim=TF_DIM), []


def op_phash_dup(i: Inputs):
    from geoengine.images import phash_near_dup_pairs

    return phash_near_dup_pairs(i.images), []


def op_dbscan(i: Inputs):
    from geoengine.clusters import spatial_dbscan

    reg: list = []
    return spatial_dbscan(i.dbscan_points, DBSCAN_EPS_KM, DBSCAN_MIN_PTS,
                          cache_registry=reg), reg


def op_kde(i: Inputs):
    from geoengine.interpolate import kde_cells

    return kde_cells(i.event_points, KDE_BW_KM, KDE_HB), []


def op_hotspots(i: Inputs):
    from geoengine.index import emerging_hotspots

    reg: list = []
    return emerging_hotspots(i.hotspot_points, EMERGE_HB,
                             cache_registry=reg), reg


OPS = {name[3:]: fn for name, fn in globals().items()
       if name.startswith("op_")}


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(registry: list) -> None:
    for handle in registry:
        handle.unpersist()


@contextmanager
def op_conf(spark, name: str):
    """Apply the op's session conf for the duration of the call."""
    conf = SESSION_CONF.get(name, {})
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_op(i: Inputs, name: str) -> None:
    """One closed-loop call: build, force into the noop sink, release."""
    with op_conf(i.spark, name):
        df, reg = OPS[name](i)
        try:
            force(df)
        finally:
            release(reg)
