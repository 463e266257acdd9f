"""Generated code is compiled once per session: a second identical round
of the radius-family operators must find every whole-stage-codegen class
in Spark's compiled-class cache (see geoengine/session.py)."""

from geoengine import datasets, fixtures
from geoengine.engine import search_km
from geoengine.knn import knn_join_rings
from geoengine.pip import points_in_multipolygons


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_radius_ops_second_round_compiles_nothing(spark, sf_dir, monkeypatch):
    # budget 0: the kNN runs its ring loop, whose rounds generate most of
    # the distinct classes
    monkeypatch.setenv("SPARK_GRAFT_KNN_FALLBACK_PAIRS", "0")
    orders = datasets.with_point(
        datasets.load(spark, sf_dir, "orders"), "o_orderkey", 41, 97
    ).select("o_orderkey", "latitude", "longitude").withColumnRenamed(
        "o_orderkey", "id")
    customers = datasets.customer_points(spark, sf_dir)
    suppliers = datasets.supplier_points(spark, sf_dir)
    polys = fixtures.holed_polygons_table(spark, 9, seed=11)

    def one_round():
        _sink(search_km(orders, customers, 500.0, 10))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            _sink(search_km(customers, orders, 500.0, 10))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        reg: list = []
        _sink(knn_join_rings(customers, suppliers, 3, cache_registry=reg))
        for df in reg:
            df.unpersist()
        _sink(points_in_multipolygons(orders, polys, half_bits=6))

    one_round()
    before = _compilations(spark)
    one_round()
    assert _compilations(spark) - before == 0
