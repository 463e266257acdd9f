"""Independent output checks, one per op.

Every reference is computed outside the engine: numpy brute force for the
radius/kNN/point-in-polygon/dedup/clustering ops, and the DuckDB SQL twin
of ``emerging_hotspots`` for the hotspot op. ``collect(name, df, inp)``
pulls the op's output (the only Spark work a check does besides reading
its inputs); ``check(name, out, inp)`` returns a list of mismatch strings,
empty when the output is correct.

Distances are compared with a 1e-6 km band: the JVM and numpy evaluate
the same law-of-cosines formula with different libm, so a pair within
1e-6 km of the radius may fall on either side, and near-equal distances
may order either way.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geoengine.geodesy import dist_law_of_cosines_km as dist_km
from geobench import workloads as W

EPS_KM = 1e-6
SAMPLE = 300  # origins checked per radius/kNN op


def _pts(inp, name: str) -> pd.DataFrame:
    """(id, latitude, longitude) of one input frame, collected once."""
    key = ("pandas", name)
    if key not in inp.frames:
        inp.frames[key] = getattr(inp, name).select(
            "id", "latitude", "longitude").toPandas()
    return inp.frames[key]


def _docs(inp) -> pd.DataFrame:
    if ("pandas", "docs") not in inp.frames:
        inp.frames[("pandas", "docs")] = inp.docs.toPandas()
    return inp.frames[("pandas", "docs")]


def _sample(ids: np.ndarray, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed + 101)
    return rng.choice(ids, size=min(SAMPLE, len(ids)), replace=False)


# ---------------------------------------------------------------------------
# collect
# ---------------------------------------------------------------------------

def collect(name: str, df, inp) -> pd.DataFrame:
    if name in ("search", "search_shuffle"):
        df = df.select(
            F.col("origin.id").alias("oid"),
            F.col("neighbors.value.id").alias("nid"),
            F.col("neighbors.euclideanDistance").alias("d"),
        )
    elif name == "knn":
        df = df.select(F.col("origin_id").alias("oid"),
                       F.col("neighbor_id").alias("nid"),
                       F.col("distance_km").alias("d"), "knn_rank")
    return df.toPandas()


# ---------------------------------------------------------------------------
# radius search / kNN
# ---------------------------------------------------------------------------

def _ranked_ok(oid, got_ids, got_d, ref_ids, ref_d, cap, radius) -> list:
    """got: the engine's neighbours of one origin in its order; ref: every
    neighbour (ids, exact distances). Checks order, distances, the cap and
    completeness up to the EPS_KM band."""
    errs = []
    ref = dict(zip(ref_ids, ref_d))
    if len(got_ids) > cap:
        errs.append(f"{oid}: {len(got_ids)} > cap {cap}")
    for j, (nid, d) in enumerate(zip(got_ids, got_d)):
        if nid not in ref or abs(ref[nid] - d) > EPS_KM or d > radius:
            errs.append(f"{oid}: neighbour {nid} at {d} not expected")
        if j and (d < got_d[j - 1] or (d == got_d[j - 1]
                                       and str(nid) < str(got_ids[j - 1]))):
            errs.append(f"{oid}: neighbours out of order at {j}")
    full = len(got_ids) == cap
    bound = (max(got_d) if full else radius) - EPS_KM
    missing = [n for n, d in ref.items() if d < bound and n not in set(got_ids)]
    if missing:
        errs.append(f"{oid}: missing {missing[:3]}")
    if not full and sum(d <= radius + EPS_KM for d in ref_d) < len(got_ids):
        errs.append(f"{oid}: too many neighbours")
    return errs


def _check_search(out, origins, neighbors, seed, cap, radius) -> list:
    errs = []
    got = {str(r.oid): r for r in out.itertuples()}
    o = origins.set_index(origins["id"].astype(str))
    n_lat, n_lon = neighbors["latitude"].to_numpy(), neighbors["longitude"].to_numpy()
    n_ids = neighbors["id"].astype(str).to_numpy()
    for oid in _sample(o.index.to_numpy(), seed):
        lat, lon = o.at[oid, "latitude"], o.at[oid, "longitude"]
        d = dist_km(lat, lon, n_lat, n_lon)
        near = d <= radius + EPS_KM
        r = got.get(oid)
        if r is None:
            if (d <= radius - EPS_KM).any():
                errs.append(f"{oid}: origin missing")
            continue
        errs += _ranked_ok(oid, [str(x) for x in r.nid], list(r.d),
                           n_ids[near], d[near], cap, radius)
    if len(got) > len(o):
        errs.append("more result rows than origins")
    return errs


def check_search(out, inp) -> list:
    return _check_search(out, _pts(inp, "orders"), _pts(inp, "customers"),
                         inp.seed, W.SEARCH_MAX, W.SEARCH_KM)


def check_search_shuffle(out, inp) -> list:
    return _check_search(out, _pts(inp, "customers"), _pts(inp, "lineitem"),
                         inp.seed, W.SEARCH_MAX, W.SEARCH_KM)


def check_knn(out, inp) -> list:
    origins, nb = _pts(inp, "customers"), _pts(inp, "suppliers")
    errs = []
    if len(out) != W.KNN_K * len(origins):
        errs.append(f"{len(out)} rows, expected {W.KNN_K * len(origins)}")
    out = out.sort_values(["oid", "knn_rank"])
    groups = {k: g for k, g in out.groupby("oid")}
    o = origins.set_index("id")
    n_lat, n_lon = nb["latitude"].to_numpy(), nb["longitude"].to_numpy()
    n_ids = nb["id"].to_numpy()
    for oid in _sample(o.index.to_numpy(), inp.seed):
        g = groups.get(oid)
        if g is None:
            errs.append(f"{oid}: origin missing")
            continue
        if list(g["knn_rank"]) != list(range(1, W.KNN_K + 1)):
            errs.append(f"{oid}: ranks {list(g['knn_rank'])}")
        d = dist_km(o.at[oid, "latitude"], o.at[oid, "longitude"], n_lat, n_lon)
        errs += _ranked_ok(oid, list(g["nid"]), list(g["d"]), n_ids, d,
                           W.KNN_K, np.inf)
    return errs


# ---------------------------------------------------------------------------
# point in polygon
# ---------------------------------------------------------------------------

def _inside(lat, lon, ring) -> np.ndarray:
    """Even-odd ray cast in the planar (lon, lat) frame."""
    ys = np.array([p["lat"] for p in ring])
    xs = np.array([p["lon"] for p in ring])
    inside = np.zeros(len(lat), dtype=bool)
    for y0, x0, y1, x1 in zip(ys, xs, np.roll(ys, -1), np.roll(xs, -1)):
        crosses = (y0 > lat) != (y1 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = x0 + (lat - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (lon < x_at)
    return inside


def check_pip(out, inp) -> list:
    pts = _pts(inp, "orders")
    lat, lon = pts["latitude"].to_numpy(), pts["longitude"].to_numpy()
    expected = set()
    for poly in inp.polygons.toPandas().itertuples():
        hit = np.zeros(len(pts), dtype=bool)
        for ring in poly.rings:
            hit ^= _inside(lat, lon, ring)
        expected |= {(int(i), poly.poly_id) for i in pts["id"].to_numpy()[hit]}
    got = {(int(a), b) for a, b in zip(out["point_id"], out["poly_id"])}
    dup = [f"{len(out) - len(got)} duplicate rows"] if len(out) > len(got) else []
    return dup + _set_diff("pip pair", got, expected)


def _set_diff(what, got, expected) -> list:
    if got == expected:
        return []
    extra, missing = got - expected, expected - got
    return [f"{what}s: {len(extra)} unexpected {sorted(extra)[:3]}, "
            f"{len(missing)} missing {sorted(missing)[:3]}"]


# ---------------------------------------------------------------------------
# near-duplicate detection
# ---------------------------------------------------------------------------

def _word_masks(docs: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """One bit per word of the corpus's vocabulary (31 words in the test
    corpus, so a word set fits a uint64)."""
    vocab = sorted({w for t in docs["text"] for w in t.split(" ")})
    if len(vocab) > 64:
        raise ValueError(f"{len(vocab)} distinct words do not fit a uint64")
    index = {w: j for j, w in enumerate(vocab)}
    masks = np.array(
        [sum(1 << index[w] for w in set(t.split(" "))) for t in docs["text"]],
        dtype=np.uint64,
    )
    return docs["doc_id"].to_numpy(), masks


def _popcount(x: np.ndarray) -> np.ndarray:
    return np.unpackbits(x.view(np.uint8).reshape(len(x), 8), axis=1).sum(1)


def _jaccard_pairs(docs: pd.DataFrame, threshold: float) -> dict:
    ids, m = _word_masks(docs)
    out = {}
    for a in range(len(ids) - 1):
        inter = _popcount(m[a] & m[a + 1:])
        union = _popcount(m[a] | m[a + 1:])
        j = inter / union
        for b in np.nonzero(j >= threshold)[0]:
            p = tuple(sorted((int(ids[a]), int(ids[a + 1 + b]))))
            out[p] = round(float(j[b]), 6)
    return out


def _check_pairs(out, expected: dict, col: str, tol: float,
                 either=()) -> list:
    """Exact pair-set equality; ``either`` lists pairs whose score sits on
    the threshold within float noise and may appear or not."""
    got = {(int(a), int(b)): float(v)
           for a, b, v in zip(out["doc1"], out["doc2"], out[col])}
    errs = [f"{len(out) - len(got)} duplicate rows"] if len(out) > len(got) else []
    errs += _set_diff(f"{col} pair", set(got) - set(either),
                     set(expected) - set(either))
    bad = [p for p in set(got) & set(expected) if abs(got[p] - expected[p]) > tol]
    if bad:
        errs.append(f"{len(bad)} {col} values differ, e.g. {bad[0]}: "
                    f"{got[bad[0]]} vs {expected[bad[0]]}")
    return errs


def check_minhash_dup(out, inp) -> list:
    expected = _jaccard_pairs(_docs(inp), W.MINHASH_T)
    return _check_pairs(out, expected, "jaccard", 0.0)


def check_simhash_dup(out, inp) -> list:
    expected = _jaccard_pairs(_docs(inp), W.SIMHASH_T)
    return _check_pairs(out, expected, "jaccard", 0.0)


def check_cosine_dup(out, inp) -> list:
    """TF vectors rebuilt in Python (md5-prefix token buckets), exact
    cosine over all pairs."""
    docs = _docs(inp)
    buckets = {}
    vecs = np.zeros((len(docs), W.TF_DIM))
    for r, text in enumerate(docs["text"]):
        for tok in text.split(" "):
            if tok not in buckets:
                buckets[tok] = int(hashlib.md5(tok.encode()).hexdigest()[:8],
                                   16) % W.TF_DIM
            vecs[r, buckets[tok]] += 1.0
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    ids = docs["doc_id"].to_numpy()
    expected, either = {}, set()
    for a, b in zip(*np.nonzero(np.triu(cos >= W.COSINE_T - 1e-9, k=1))):
        p = tuple(sorted((int(ids[a]), int(ids[b]))))
        expected[p] = round(float(cos[a, b]), 6)
        if abs(cos[a, b] - W.COSINE_T) < 1e-9:
            either.add(p)
    return _check_pairs(out, expected, "cosine", 2e-6, either)


def _dct_sign_hashes(gray: np.ndarray) -> np.ndarray:
    """The 8x8 DCT sign hash of FIXTURES.md section 3, written out here
    rather than taken from the engine: the first 8 orthonormal DCT-II basis
    rows of a 32-point transform, applied on both axes of each (32, 32)
    grayscale image; bit 63 - k of the hash is set when coefficient k
    (row-major over the 8x8 block) exceeds the median of the 63 non-DC
    coefficients. Returns uint64[B]."""
    k = np.arange(8)[:, None]
    i = np.arange(32)[None, :]
    basis = np.cos(np.pi * (2 * i + 1) * k / 64.0) * np.where(
        k == 0, np.sqrt(1 / 32), np.sqrt(2 / 32))
    coef = np.einsum("ki,bij,lj->bkl", basis, gray, basis).reshape(-1, 64)
    bits = coef > np.median(coef[:, 1:], axis=1, keepdims=True)
    return np.packbits(bits, axis=1).view(">u8").ravel().astype(np.uint64)


def check_phash_dup(out, inp) -> list:
    imgs = inp.images.select("image_id", "bytes", "w", "h", "fmt").toPandas()
    if set(zip(imgs["w"], imgs["h"], imgs["fmt"])) != {(32, 32, "raw")}:
        return ["the image fixture is expected to hold 32x32 raw images"]
    px = np.stack([np.frombuffer(b, np.uint8).reshape(32, 32, 3)
                   for b in imgs["bytes"]])
    ph = _dct_sign_hashes(px.astype(np.float64).sum(axis=3) / 3.0)
    ids = imgs["image_id"].to_numpy()
    expected = {}
    for a in range(len(ids) - 1):
        ham = _popcount(ph[a] ^ ph[a + 1:])
        for b in np.nonzero(ham <= 7)[0]:
            expected[tuple(sorted((ids[a], ids[a + 1 + b])))] = int(ham[b])
    got = {(a, b): int(h) for a, b, h in
           zip(out["doc1"], out["doc2"], out["hamming"])}
    errs = [f"{len(out) - len(got)} duplicate rows"] if len(out) > len(got) else []
    errs += _set_diff("phash pair", set(got), set(expected))
    if any(got[p] != expected[p] for p in set(got) & set(expected)):
        errs.append("hamming distances differ")
    if not expected:
        errs.append("fixture produced no near-duplicate images")
    return errs


# ---------------------------------------------------------------------------
# density
# ---------------------------------------------------------------------------

def _eps_pairs(lat, lon, eps_km) -> tuple[np.ndarray, np.ndarray]:
    """All (i, j) with distance <= eps (i != j), by latitude-sorted
    windows: eps km never spans more than eps/111.19 deg of latitude."""
    order = np.argsort(lat, kind="stable")
    slat, slon = lat[order], lon[order]
    dlat = eps_km / 111.19492664455873 + 1e-9
    ii, jj = [], []
    block = 256
    for s in range(0, len(order), block):
        e = min(s + block, len(order))
        lo = np.searchsorted(slat, slat[s] - dlat, "left")
        hi = np.searchsorted(slat, slat[e - 1] + dlat, "right")
        d = dist_km(slat[s:e, None], slon[s:e, None], slat[None, lo:hi],
                    slon[None, lo:hi])
        a, b = np.nonzero(d <= eps_km)
        a, b = a + s, b + lo
        keep = a != b
        ii.append(order[a[keep]])
        jj.append(order[b[keep]])
    return np.concatenate(ii), np.concatenate(jj)


def check_dbscan(out, inp) -> list:
    pts = _pts(inp, "dbscan_points")
    ids = pts["id"].to_numpy()
    lat, lon = pts["latitude"].to_numpy(), pts["longitude"].to_numpy()
    i, j = _eps_pairs(lat, lon, W.DBSCAN_EPS_KM)
    deg = np.bincount(i, minlength=len(ids)) + 1  # the point itself counts
    core = deg >= W.DBSCAN_MIN_PTS
    # union-find over core-core edges
    parent = np.arange(len(ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(i, j):
        if core[a] and core[b]:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(x) for x in range(len(ids))])
    label = pd.Series(ids[core]).groupby(roots[core]).min()
    cluster = np.full(len(ids), -1, dtype=np.int64)
    cluster[core] = label.loc[roots[core]].to_numpy()
    border = {}
    for a, b in zip(i, j):
        if not core[a] and core[b]:
            border[a] = min(border.get(a, cluster[b]), cluster[b])
    for a, c in border.items():
        cluster[a] = c
    expected = {(int(x), bool(c), int(k)) for x, c, k in zip(ids, core, cluster)}
    got = {(int(x), bool(c), -1 if pd.isna(k) else int(k))
           for x, c, k in zip(out["id"], out["is_core"], out["cluster_id"])}
    errs = _set_diff("dbscan label", got, expected)
    if len(out) != len(ids):
        errs.append(f"{len(out)} rows for {len(ids)} points")
    return errs


def check_kde(out, inp) -> list:
    hb, n = W.KDE_HB, 1 << W.KDE_HB
    pts = _pts(inp, "event_points")
    lat, lon = pts["latitude"].to_numpy(), pts["longitude"].to_numpy()
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    cells = set((ix * n + iy).tolist())
    errs = _set_diff("kde cell", set(out["cell"].astype(int)), cells)
    cutoff = 3.0 * W.KDE_BW_KM
    out = out.set_index("cell")
    rng = np.random.default_rng(inp.seed + 7)
    for cell in rng.choice(sorted(cells), size=min(SAMPLE, len(cells)),
                           replace=False):
        if cell not in out.index:
            continue
        clat = ((cell % n) + 0.5) * (180.0 / n) - 90.0
        clon = ((cell // n) + 0.5) * (360.0 / n) - 180.0
        d = dist_km(clat, clon, lat, lon)
        if (np.abs(d - cutoff) < EPS_KM).any():
            continue  # a point on the truncation radius: either count holds
        near = d <= cutoff
        dens = np.exp(-(d[near] ** 2) / (2.0 * W.KDE_BW_KM ** 2)).sum()
        row = out.loc[cell]
        if int(row["n_points"]) != int(near.sum()) or \
                abs(row["density"] - dens) > 1e-9 * max(1.0, dens):
            errs.append(f"cell {cell}: ({row['n_points']}, {row['density']})"
                        f" vs ({near.sum()}, {dens})")
    return errs


def check_hotspots(out, inp) -> list:
    """Compare against the DuckDB twin of emerging_hotspots over the same
    stored events table."""
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{inp.work}/events.parquet')")
        ref = con.execute(oracle_sql()["emerging_hotspots"]).df()
    finally:
        con.close()
    cols = ["ix", "iy", "n_bins", "s", "z_mk", "mean_gi", "last_gi", "trend"]

    def rows(df):
        df = df[cols].copy()
        for c in ("z_mk", "mean_gi", "last_gi"):
            df[c] = df[c].astype(float).round(6)
        return {tuple(None if pd.isna(v) else v for v in r)
                for r in df.itertuples(index=False)}

    return _set_diff("hotspot row", rows(out), rows(ref))


CHECKS = {name[6:]: fn for name, fn in globals().items()
          if name.startswith("check_")}


def corrupt(out: pd.DataFrame) -> pd.DataFrame:
    """Deliberately wrong output (drops the first row) for the self-test."""
    return out.iloc[1:] if len(out) else out
