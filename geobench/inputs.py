"""Benchmark inputs.

Two kinds of input:

* fixed tables: the repo's TPC-H-ish test tables (``customer``,
  ``supplier``, ``orders``, ``lineitem``, ``events``) at sf0.01 — sf0.001
  for the self-test — and the sf0.1 ``documents`` corpus, stored unchanged
  under ``geobench/data/`` and the same for every seed;
* generated fixtures that the seed drives: the near-dup image+caption
  table, the point-in-polygon fences, the salts that place the dbscan
  points, and the seeded subset of the documents the dedup ops read.

Everything an op reads is copied or written under the benchmark's work
directory inside the checkout and read back through ``spark.read.parquet``
— the ops scan stored tables the way a user's job would.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CORPUS = os.path.join(DATA, "documents-sf0.1.parquet")
FIXED = ("customer", "supplier", "orders", "lineitem", "events")

# "full" is the measured benchmark, "smoke" the sf0.001-sized self-test:
# the test-data scale of the fixed tables, their row counts, and the
# generated counts
SIZES = {
    "full": {
        "sf": "sf0.01", "orders": 15_000, "customer": 1_500,
        "supplier": 100, "lineitem": 60_000, "events": 10_000,
        "docs": 300, "images": 1_500, "polygons": 20,
    },
    "smoke": {
        "sf": "sf0.001", "orders": 1_500, "customer": 150, "supplier": 10,
        "lineitem": 6_000, "events": 1_000,
        "docs": 120, "images": 200, "polygons": 6,
    },
}

# events at sf0.1 are 100k rows; the dbscan blobs shrink with the row count
# so the eps-neighbourhood density (and the core/border/noise mix) stays
# that of the sf0.1 fixture
_SF01_EVENTS = 100_000


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def doc_subset_ids(texts, n_docs: int, seed: int) -> np.ndarray:
    """A seeded, fixed-size subset of the documents, stratified by the
    number of distinct words: a systematic sample over the documents
    ordered by (distinct words, seeded key). Near-duplicate pair counts
    depend mostly on that length profile, so every seed's subset carries
    the same amount of dedup work (pair counts within ~1%)."""
    rng = np.random.default_rng(seed * 7919 + 11)
    distinct = np.array([len(set(t.split(" "))) for t in texts])
    order = np.lexsort((rng.random(len(texts)), distinct))
    step = len(texts) / n_docs
    picks = (rng.random() * step + np.arange(n_docs) * step).astype(int)
    return np.sort(order[picks])


def prepare(root: str, scale: str, seed: int, spark, tables) -> str:
    """(Re)write the named inputs for ``seed`` under ``root``; returns the
    directory. The image fixture is generated and written by Spark."""
    from geoengine.fixtures import near_dup_images_table

    sizes = SIZES[scale]
    work = os.path.join(root, "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for table in tables:
        if table in FIXED:
            shutil.copyfile(os.path.join(DATA, sizes["sf"], f"{table}.parquet"),
                            f"{work}/{table}.parquet")
    if "documents" in tables:
        docs = pq.read_table(CORPUS, columns=["doc_id", "text"])
        ids = doc_subset_ids(docs.column("text").to_pylist(), sizes["docs"],
                             seed)
        pq.write_table(docs.take(pa.array(ids)),
                       f"{work}/docs_subset.parquet")
    if "polygons" in tables:
        _polygons(work, sizes["polygons"], seed)
    if "images" in tables:
        (near_dup_images_table(spark, sizes["images"], seed=seed,
                               partitions=spark.sparkContext.defaultParallelism)
         .write.mode("overwrite").parquet(f"{work}/images.parquet"))
    return work


def _polygons(work: str, n: int, seed: int) -> None:
    from geoengine.fixtures import polygon_rings

    rings = polygon_rings(n, seed=seed)
    _write(f"{work}/polygons.parquet", {
        "poly_id": [pid for pid, _ in rings],
        "rings": pa.array(
            [[[{"lat": a, "lon": b} for a, b in ring]] for _, ring in rings],
            type=pa.list_(pa.list_(pa.struct(
                [("lat", pa.float64()), ("lon", pa.float64())]))),
        ),
    })


def dbscan_blob_width(n_events: int) -> float:
    """Jitter-box width (degrees) keeping the sf0.1 blob density."""
    return 3.0 * (n_events / _SF01_EVENTS) ** 0.5
