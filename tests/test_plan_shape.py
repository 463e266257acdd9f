"""Physical-plan regression guards: the radius join must stay JVM-side
(no Python eval nodes), join on the int64 cell key, and prune scans to the
key columns — the properties that make it survive a 100x scale-up."""

from pyspark.sql import functions as F

from geoengine import datasets
from geoengine.join import radius_join_pairs


def _plan(spark, df, mode="formatted"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_radius_join_plan_is_jvm_only(spark, sf_dir):
    pairs = radius_join_pairs(
        datasets.customer_points(spark, sf_dir),
        datasets.supplier_points(spark, sf_dir),
        500.0,
        "km",
    )
    p = _plan(spark, pairs)
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in p, f"python on the hot path: {python_node}"
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p or "SortMergeJoin" in p
    # distance refinement must ride the join, codegen'd, not a later UDF
    assert "ACOS" in p.upper()


def test_scan_prunes_to_key_columns(spark, sf_dir):
    pairs = radius_join_pairs(
        datasets.customer_points(spark, sf_dir),
        datasets.supplier_points(spark, sf_dir),
        500.0,
        "km",
    )
    p = _plan(spark, pairs)
    # points are derived from the keys: the parquet scans must read ONLY them
    assert "ReadSchema: struct<c_custkey:bigint>" in p
    assert "ReadSchema: struct<s_suppkey:bigint>" in p


def test_tile_plan_wholestage_codegen(spark, sf_dir):
    from geoengine import exprs

    pts = datasets.event_points(spark, sf_dir)
    tiles = pts.select(
        exprs.tile_x(F.col("longitude"), 12).alias("tx"),
        exprs.tile_y(F.col("latitude"), 12).alias("ty"),
    )
    p = _plan(spark, tiles, "simple")
    assert "*(1)" in p  # whole-stage-codegen span marker
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_lsh_verified_dedup_no_cartesian(spark, sf_dir):
    """The dedup scale path must candidate-join on (band, bucket) — never a
    cartesian — and the exact verify must be JVM array intrinsics."""
    from geoengine.text import lsh_verified_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_verified_jaccard_pairs(docs, threshold=0.8)
    p = _plan(spark, pairs)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # exact Jaccard rides Columns (array_intersect), not a Python stage
    assert "array_intersect" in p


def test_cosine_near_dup_no_cartesian(spark, sf_dir):
    from geoengine.similarity import (
        cosine_near_dup_exact,
        cosine_near_dup_pairs,
        hashed_tf_vectors,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for pairs in (
        cosine_near_dup_pairs(
            hashed_tf_vectors(docs), 0.95, id_col="doc", dim=64,
            n_planes=12, probe_bits=2,
        ),
        cosine_near_dup_exact(hashed_tf_vectors(docs), 0.95, id_col="doc",
                              dim=64),
    ):
        p = _plan(spark, pairs)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_featurizer_plan_is_jvm_only(spark, sf_dir):
    """hashed_tf_vectors must be pure codegen: explode + one hash aggregate,
    no Python eval nodes anywhere."""
    from geoengine.similarity import hashed_tf_vectors

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = _plan(spark, hashed_tf_vectors(docs))
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in p
    assert "HashAggregate" in p


def test_multipolygon_pip_plan_shape(spark, sf_dir):
    """Holed-polygon PIP: cell equi-join prefilter (never a cartesian
    against the point table) and exactly ONE Python node — the final
    ray-cast filter over collision survivors."""
    from geoengine.fixtures import holed_polygons_table
    from geoengine.pip import points_in_multipolygons

    polys = holed_polygons_table(spark, 6, seed=9)
    pts = datasets.customer_points(spark, sf_dir)
    # simple mode: each physical node appears exactly once
    p = _plan(spark, points_in_multipolygons(pts, polys), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("ArrowEvalPython") == 1  # only the ray-cast survives


def test_near_dup_prefix_one_window_shuffle(spark, sf_dir):
    """The suffix-norm prefix index costs one window over doc — the plan
    must show a Window node and no Python anywhere (pure Column pipeline
    all the way through the exact cosine verify)."""
    from geoengine.similarity import cosine_near_dup_exact, hashed_tf_vectors

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = _plan(spark, cosine_near_dup_exact(hashed_tf_vectors(docs), 0.95,
                                           id_col="doc"))
    assert "Window" in p
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in p


def test_prepartitioned_search_elides_topk_and_assembly_exchanges(spark, sf_dir):
    """search(prepartition=N, strategy='broadcast'): the origin-side hash
    partitioning must survive explode+join+window+groupBy, leaving exactly
    TWO Exchanges — the cheap 1x pre-explode repartition and the broadcast
    — with the window and collect_list aggregation reusing it."""
    from geoengine.engine import search

    o = datasets.customer_points(spark, sf_dir)
    nb = datasets.supplier_points(spark, sf_dir)
    p = _plan(spark, search(o, nb, 500.0, "km", max_results=5,
                            strategy="broadcast", prepartition=8), "simple")
    assert p.count("Exchange") == 2, p
    assert "BroadcastExchange" in p
    assert "REPARTITION_BY_NUM" in p
    # the candidate-row shuffle is GONE: no hash exchange on origin_id
    assert "hashpartitioning(origin_id" not in p, p
    # baseline (no prepartition): window+assembly share ONE post-join hash
    # exchange — but it moves candidate rows, keyed on origin_id
    p0 = _plan(spark, search(o, nb, 500.0, "km", max_results=5,
                             strategy="broadcast"), "simple")
    assert "hashpartitioning(origin_id" in p0, p0


def test_per_row_unit_join_stays_jvm_only(spark, sf_dir):
    """The per-row unit column adds CASE expressions, never Python: the
    mixed-unit per-row join must keep zero Python eval nodes and keep the
    ACOS refinement riding the join."""
    from geoengine.join import radius_join_pairs_per_row

    o = (
        datasets.customer_points(spark, sf_dir)
        .withColumn("radius", 100.0 + (F.col("id") % 7) * 100.0)
        .withColumn(
            "unit",
            F.when(F.col("id") % 2 == 0, F.lit("miles")).otherwise(F.lit("km")),
        )
    )
    pairs = radius_join_pairs_per_row(
        o, datasets.supplier_points(spark, sf_dir),
        radius_col="radius", unit_col="unit", max_radius=1200.0,
    )
    p = _plan(spark, pairs)
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in p, f"python on the hot path: {python_node}"
    assert "ACOS" in p.upper()


def test_near_dup_surfaces_sign_once_without_cache(spark, sf_dir, tmp_path):
    """Every near-dup surface pairs rows through text.bucket_pairs: the
    signed rows have one consumer, so the plan holds no cached relation
    (InMemoryTableScan) and exactly one signature Python node."""
    from geoengine.fixtures import near_dup_images_table
    from geoengine.images import phash_near_dup_pairs
    from geoengine.similarity import (
        cosine_near_dup_exact,
        cosine_near_dup_pairs,
        hashed_tf_vectors,
    )
    from geoengine.text import (
        lsh_verified_jaccard_pairs,
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vecs = hashed_tf_vectors(docs)
    # stored table: the fixture is itself a mapInPandas
    near_dup_images_table(spark, 20, partitions=2).write.parquet(
        str(tmp_path / "images"))
    imgs = spark.read.parquet(str(tmp_path / "images"))
    surfaces = [
        (lsh_verified_jaccard_pairs(docs, threshold=0.8, prefilter="minhash"),
         "ArrowEvalPython", 1),
        (lsh_verified_jaccard_pairs(docs, threshold=0.8, prefilter="simhash"),
         "ArrowEvalPython", 1),
        (minhash_near_dup_pairs(docs), "ArrowEvalPython", 1),
        (simhash_near_dup_pairs(docs), "ArrowEvalPython", 1),
        (cosine_near_dup_pairs(vecs, 0.95, id_col="doc", probe_bits=2),
         "ArrowEvalPython", 1),
        (cosine_near_dup_exact(vecs, 0.95, id_col="doc"), "ArrowEvalPython", 0),
        (phash_near_dup_pairs(imgs), "MapInPandas", 1),
    ]
    for pairs, sig_node, n in surfaces:
        p = _plan(spark, pairs, "simple")
        assert "InMemoryTableScan" not in p, p
        assert p.count(sig_node) == n, p
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
