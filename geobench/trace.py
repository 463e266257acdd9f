"""The traced run: per-layer metrics, measured from outside the engine.

Event logging is on for the whole traced process (``spark.eventLog.*``,
set at submit time), so every number here comes from one session:

1. the named workload's outputs are collected and checked (this pass also
   warms it), then it runs a traced and an untraced pass;
   ``trace.overhead_s`` = traced pass - untraced pass;
2. a census of all eleven ops (whatever the workload, so every traced run
   reports every per-layer metric): each op is built and forced once in
   its own Spark job group (``op_s.<op>``, ``spark.<op>.*``), then split
   into layers by forcing the prefixes of its plan, built from the same
   public functions the op composes. A layer's self time is the
   difference between consecutive prefixes; row counts are observed on
   the forced actions (``df.observe``), so counting adds no job. Ops
   outside the named workload run cold.

Spans (name, start, end, parent span, op id, job ids) are kept in memory
and written to ``.geobench_work/spans-<workload>-<seed>.json`` at the end.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from geobench import workloads as W


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        """Record a span; with ``group`` the Spark jobs it issues are
        tagged with that job group."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time(), "end": None, "jobs": None}
        self.spans.append(rec)
        self.stack.append(sid)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if group:
                rec["jobs"] = list(
                    self.sc.statusTracker().getJobIdsForGroup(group))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.stack.pop()

    def timed(self, name, df, op):
        """Force ``df`` in a probe span; returns (seconds, row count), the
        count observed on the same action (no extra job)."""
        obs = Observation()
        with self.span(name, op, f"probe:{op}:{name}") as rec:
            W.force(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return rec["end"] - rec["start"], obs.get["n"]


# ---------------------------------------------------------------------------
# layer probes: (tracer, inputs, op, timed op call) -> {metric: value}
# ---------------------------------------------------------------------------

def _prefixed(df, p):
    return df.select([F.col(c).alias(p + c) for c in df.columns])


def _ratio(a, b):
    return a / b if b else 0.0


def _count(tr, name, df, op):
    return tr.timed(name, df, op)[1]


def _join_layers(tr, op, origins, neighbors, radius, hb, validate=True):
    """Prefixes of the radius-join core: spread -> explode -> pairs."""
    from geoengine.join import (explode_covering_cells, radius_join_pairs,
                                spread_small_input, validate_points,
                                with_grid_cell)

    o = validate_points(origins) if validate else origins
    nb = validate_points(neighbors) if validate else neighbors
    p1 = spread_small_input(_prefixed(o, "origin_"), F.col("origin_id"))
    p2 = explode_covering_cells(p1, radius, hb, lat="origin_latitude",
                                lon="origin_longitude")
    p3 = radius_join_pairs(origins, neighbors, radius, half_bits=hb,
                           validate=validate)
    build = with_grid_cell(_prefixed(nb, "neighbor_"), hb,
                           lat="neighbor_latitude", lon="neighbor_longitude")
    t1, n_o = tr.timed("spread", p1, op)
    t2, probe = tr.timed("explode", p2, op)
    t3, result = tr.timed("pairs", p3, op)
    cand = _count(tr, "candidates", p2.join(build, "gkey"), op)
    m = {"explode_s": t2 - t1, "pairs_s": t3 - t2, "probe_rows": probe,
         "fanout": _ratio(probe, n_o), "candidate_pairs": cand,
         "result_pairs": result, "refine_ratio": _ratio(result, cand)}
    return {f"join.{op}.{k}": v for k, v in m.items()}, p3, t3


def probe_search(tr, inp, op, call):
    from geoengine.join import pick_half_bits
    from geoengine.sources import coerce_points
    from geoengine.topk import top_n_per_origin

    origins, neighbors = ((inp.orders, inp.customers) if op == "search"
                          else (inp.customers, inp.lineitem))
    o, nb = coerce_points(origins), coerce_points(neighbors)
    m, pairs, t_pairs = _join_layers(tr, op, o, nb, W.SEARCH_KM,
                                     pick_half_bits(W.SEARCH_KM))
    t_top, n_top = tr.timed("topk", top_n_per_origin(pairs, W.SEARCH_MAX), op)
    m.update({
        f"topk.{op}.self_s": t_top - t_pairs,
        f"topk.{op}.rows_in": m[f"join.{op}.result_pairs"],
        f"topk.{op}.rows_out": n_top,
        f"results.{op}.self_s": call["s"] - t_top,
        f"results.{op}.rows": call["rows"],
    })
    return m


probe_search_shuffle = probe_search


def probe_knn(tr, inp, op, call):
    return {"knn.cached_frames": len(call["registry"]),
            "knn.result_rows": call["rows"]}


def probe_pip(tr, inp, op, call):
    from geoengine.join import with_grid_cell
    from geoengine.pip import polygon_covering_cells

    cov = polygon_covering_cells(inp.polygons, W.PIP_HALF_BITS)
    cand = with_grid_cell(inp.orders, W.PIP_HALF_BITS).join(
        cov.select("poly_id", "gkey"), "gkey")
    t_cand, n_cand = tr.timed("candidates", cand, op)
    hits = call["rows"]
    return {"pip.covering_cells": _count(tr, "covering", cov, op),
            "pip.candidate_pairs": n_cand, "pip.hits": hits,
            "pip.hit_ratio": _ratio(hits, n_cand),
            "pip.kernel_s": call["s"] - t_cand}


def _self_pairs(keyed, key_cols):
    """Distinct (doc1 < doc2) pairs sharing a key — the bucket self-join."""
    l, r = keyed.alias("l"), keyed.alias("r")
    cond = F.col("l.doc") < F.col("r.doc")
    for c in key_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return l.join(r, cond).select(F.col("l.doc").alias("doc1"),
                                  F.col("r.doc").alias("doc2")).distinct()


def _probe_text(tr, inp, op, call, kind):
    from geoengine import text

    items = text.word_hashes_expr("text")
    if kind == "minhash":
        sig = text.make_minhash_from_hashes_udf(64)(items)
    else:
        sig = text.make_simhash_from_hashes_udf()(items)
    signed = inp.docs.select(F.col("doc_id").alias("doc"), sig.alias("sig"))
    t_sig = tr.timed("signature", signed, op)[0]
    if kind == "minhash":
        keyed = signed.select("doc", text.band_bucket_expr(32, 2).alias("b"))
        cand = _self_pairs(keyed.select("doc", "b.band", "b.bucket"),
                           ["band", "bucket"])
    else:
        keyed = signed.select("doc", text.block_split_expr(8, "sig")
                              .alias("b"))
        cand = _self_pairs(keyed.select("doc", "b.blk", "b.val"),
                           ["blk", "val"])
    n_cand, n_out = _count(tr, "candidates", cand, op), call["rows"]
    return {f"text.{kind}.signature_s": t_sig,
            f"text.{kind}.candidate_pairs": n_cand,
            f"text.{kind}.result_pairs": n_out,
            f"text.{kind}.verify_ratio": _ratio(n_out, n_cand)}


def probe_minhash_dup(tr, inp, op, call):
    return _probe_text(tr, inp, op, call, "minhash")


def probe_simhash_dup(tr, inp, op, call):
    return _probe_text(tr, inp, op, call, "simhash")


def probe_cosine_dup(tr, inp, op, call):
    from geoengine.similarity import dense_candidate_bound, near_dup_prefix_index

    index = near_dup_prefix_index(inp.tf, W.COSINE_T, id_col="doc")
    t_index = tr.timed("index", index, op)[0]
    with tr.span("candidate_bound", op, f"probe:{op}:candidate_bound"):
        bound = dense_candidate_bound(index)[1]
    n_out = call["rows"]
    return {"similarity.index_s": t_index,
            "similarity.candidate_pairs": bound,
            "similarity.result_pairs": n_out,
            "similarity.verify_ratio": _ratio(n_out, bound)}


def probe_phash_dup(tr, inp, op, call):
    from geoengine.images import with_computed_phash
    from geoengine.text import block_split_expr

    hashed = with_computed_phash(inp.images, out="_h")
    t_hash = tr.timed("phash", hashed, op)[0]
    keyed = hashed.select(F.col("image_id").alias("doc"),
                          block_split_expr(8, "_h").alias("b"))
    cand = _self_pairs(keyed.select("doc", "b.blk", "b.val"), ["blk", "val"])
    return {"images.phash_s": t_hash,
            "images.candidate_pairs": _count(tr, "candidates", cand, op),
            "images.result_pairs": call["rows"]}


def probe_dbscan(tr, inp, op, call):
    from geoengine.join import MAX_HALF_BITS, pick_half_bits, validate_points

    m = {"clusters.core_rows": call["agg"],
         "clusters.cached_frames": len(call["registry"]),
         "clusters.result_rows": call["rows"]}
    pts = validate_points(inp.dbscan_points).select("id", "latitude",
                                                     "longitude")
    hb = min(pick_half_bits(W.DBSCAN_EPS_KM) + 2, MAX_HALF_BITS)
    m.update(_join_layers(tr, op, pts, pts, W.DBSCAN_EPS_KM, hb,
                          validate=False)[0])
    return m


def probe_kde(tr, inp, op, call):
    return {"interpolate.cells": call["rows"]}


def probe_hotspots(tr, inp, op, call):
    return {"index.hotspot_cells": call["rows"]}


PROBES = {name[6:]: fn for name, fn in globals().items()
          if name.startswith("probe_")}
ALL_OPS = [op for ops in W.WORKLOADS.values() for op in ops]
# an extra aggregate observed on an op's own timed call
OP_AGG = {"dbscan": lambda: F.sum(F.col("is_core").cast("long"))}


# ---------------------------------------------------------------------------
# event log -> spark.<op>.* metrics
# ---------------------------------------------------------------------------

def _event_lines(log_dir: str):
    """Lines of the session's event log (a single file, or the files of a
    rolling-log directory in order)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True))
    for path in (p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            yield from f


def spark_metrics(log_dir: str, groups: dict) -> dict:
    """Fold the event log into per-op task time, shuffle write, spill and
    skew (max / median task time of the op's heaviest stage). ``groups``
    maps op -> its timed call's job group."""
    stage_group, tasks = {}, {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append((
                (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                / 1000.0,
                sw.get("Shuffle Bytes Written", 0),
                tm.get("Disk Bytes Spilled", 0),
            ))
    out = {}
    for op, group in groups.items():
        stages = [t for sid, t in tasks.items() if stage_group.get(sid) == group]
        flat = [x for t in stages for x in t]
        heavy = max(stages, key=lambda t: sum(x[0] for x in t), default=[])
        durs = [x[0] for x in heavy]
        med = statistics.median(durs) if durs else 0.0
        out.update({
            f"spark.{op}.task_s": sum(x[0] for x in flat),
            f"spark.{op}.shuffle_write_mb": sum(x[1] for x in flat) / 2**20,
            f"spark.{op}.spill_mb": sum(x[2] for x in flat) / 2**20,
            f"spark.{op}.task_skew": max(durs) / med if med else 1.0,
        })
    return out


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def run_traced(args, cores, t_proc, log) -> dict:
    from geobench import host, inputs
    from geobench.run import (WORK, Session, collect_pass, median,
                              persistent_rdds, run_checks, run_window)
    from geobench.workloads import TABLES, Inputs, OPS, op_conf, release, \
        run_op

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.rolling.enabled=false "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        + os.environ["PYSPARK_SUBMIT_ARGS"])

    t0 = time.time()
    session = Session(cores)
    start_s = time.time() - t0
    spark = session.spark
    ops = W.WORKLOADS[args.workload]
    metrics, groups = {"session.start_s": start_s}, {}
    tr = Tracer(spark)
    try:
        all_tables = sorted({t for ts in TABLES.values() for t in ts})
        work = inputs.prepare(WORK, args.scale, args.seed, spark, all_tables)
        inp = Inputs(spark, work, args.seed, inputs.SIZES[args.scale])
        check = run_checks(inp, collect_pass(inp, ops), args.corrupt, log)

        # a traced then an untraced pass of the workload; the session is
        # still warming, so the difference overstates the overhead rather
        # than hiding it
        attempted = failed = 0
        spark.catalog.clearCache()
        with tr.span("pass", None) as rec:
            for op in ops:
                with tr.span(op, op, f"pass:{op}"):
                    attempted += 1
                    try:
                        run_op(inp, op)
                    except Exception:
                        failed += 1
                        log(f"{op} raised:\n{traceback.format_exc()}")
        traced = [rec["end"] - rec["start"]]
        w = run_window(inp, ops, 0, log)
        plain = w["passes"]
        attempted, failed = attempted + w["attempted"], failed + w["failed"]
        cached_left = persistent_rdds(spark)

        # census: every op timed in its own job group, then split in
        # layers; ops outside the workload run cold (not warmed first)
        for op in ALL_OPS:
            groups[op] = f"op:{op}"
            spark.catalog.clearCache()  # each op pays for its own caches
            with op_conf(spark, op):
                with tr.span(op, op, groups[op]) as rec:
                    df, reg = OPS[op](inp)
                    obs = Observation()
                    aggs = [OP_AGG[op]().alias("agg")] if op in OP_AGG else []
                    W.force(df.observe(obs, F.count(F.lit(1)).alias("rows"),
                                       *aggs))
                call = {"s": rec["end"] - rec["start"], "registry": reg,
                        **obs.get}
                metrics[f"op_s.{op}"] = call["s"]
                metrics[f"spark.{op}.jobs"] = len(rec["jobs"])
                try:
                    metrics.update(PROBES[op](tr, inp, op, call))
                finally:
                    release(reg)
        metrics["peak_rss_mb"] = host.spark_rss_mb(spark)
    finally:
        session.stop()
    metrics.update(spark_metrics(log_dir, groups))

    failed += sum(1 for e in check.values() if e)
    attempted += len(check)
    metrics.update({
        "trace.overhead_s": median(traced) - median(plain),
        "cached_rdds_left": cached_left,
    })
    spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
    with open(spans_path, "w") as f:
        json.dump(tr.spans, f)
    return {
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed,
                   "metrics": {k: {"value": v, "unit": unit(k)}
                               for k, v in sorted(metrics.items())}},
        "passes_untraced_s": plain, "passes_traced_s": traced,
        "checks": check, "spans": spans_path,
    }


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s") or name.startswith("op_s."):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.rsplit(".", 1)[-1] in ("fanout", "refine_ratio", "hit_ratio",
                                   "verify_ratio", "task_skew"):
        return "ratio"
    return "count"
