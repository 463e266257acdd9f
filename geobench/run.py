"""geoengine benchmark: one workload, one seed, one closed-loop client.

    python3 geobench/run.py --workload radius_search --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run starts one Spark session at
local[nproc], stores the fixed tables and the seeded fixtures, times
set-up (which ends with a warm pass collecting every op's output), then
calls the workload's ops back to back (each forced into a ``noop`` sink,
the next call starting when the previous one returns) until ``--seconds``
have passed, checks the collected outputs against independent references, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics (see geobench/trace.py). A fuller record of the run (samples,
host load and steal, per-op times) is printed on the line before and
written under ``.geobench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".geobench_work")
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["radius_search", "near_dup", "density"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "smoke"], default="full",
                   help="input sizes; 'smoke' is the sf0.001-sized self-test")
    p.add_argument("--corrupt", default=None, metavar="OP",
                   help="self-test: damage OP's collected output before its "
                        "check, which must then count as failed")
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    make the checkout importable by the Python workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    # the host's memory is shared: cap the driver heap below session.py's
    # 8g default (the benchmark's inputs need well under 1g)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" pyspark-shell'
    )


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Session:
    """The one Spark session of a run, and a clean shutdown that waits for
    the JVM and its Python workers to exit."""

    def __init__(self, cores: int):
        from geoengine.session import get_spark

        self.spark = get_spark("geobench", cores=cores,
                               shuffle_partitions=cores)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        from geobench import host

        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = gateway.proc
        kids = host.descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and any(
                os.path.exists(f"/proc/{k}") for k in kids):
            time.sleep(0.1)


def run_window(inp, ops, seconds, log) -> dict:
    """Closed loop with one client: passes over ``ops`` until ``seconds``
    have elapsed (the pass in progress completes). Each pass records its
    wall time and the CPU seconds the driver, JVM and workers spent.

    Every pass starts from an empty cache: blocks an op persisted and never
    released (see ``cached_rdds_left``) would otherwise let the next pass
    skip the stages that built them."""
    from geobench.host import cpu_s, jit_s
    from geobench.workloads import run_op

    passes, cpu, jit, op_s = [], [], [], {op: [] for op in ops}
    attempted = failed = 0
    t_start = time.time()
    while True:
        inp.spark.catalog.clearCache()
        tp, cp, jp = time.time(), cpu_s(inp.spark), jit_s(inp.spark)
        for op in ops:
            t0 = time.time()
            attempted += 1
            try:
                run_op(inp, op)
            except Exception:
                failed += 1
                log(f"{op} raised:\n{traceback.format_exc()}")
            op_s[op].append(time.time() - t0)
        passes.append(time.time() - tp)
        cpu.append(cpu_s(inp.spark) - cp)
        jit.append(jit_s(inp.spark) - jp)
        if time.time() - t_start >= seconds:
            break
    return {"passes": passes, "cpu": cpu, "jit": jit, "op_s": op_s,
            "attempted": attempted, "failed": failed}


def collect_pass(inp, ops) -> dict:
    """One untimed call per op with its output collected for the checks
    (an exception is kept in place of the output)."""
    from geobench import checks
    from geobench.workloads import OPS, op_conf, release

    outs = {}
    inp.spark.catalog.clearCache()
    for op in ops:
        try:
            with op_conf(inp.spark, op):
                df, reg = OPS[op](inp)
                try:
                    outs[op] = checks.collect(op, df, inp)
                finally:
                    release(reg)
        except Exception:
            outs[op] = RuntimeError(traceback.format_exc())
    return outs


def run_checks(inp, outs, corrupt, log) -> dict:
    """Compare each op's collected output with an independent reference
    (untimed). Returns op -> list of mismatches (empty when correct)."""
    from geobench import checks

    result = {}
    for op, out in outs.items():
        try:
            if isinstance(out, Exception):
                raise out
            if op == corrupt:
                out = checks.corrupt(out)
            errs = checks.CHECKS[op](out, inp)
        except Exception as e:
            errs = [str(e) or traceback.format_exc()]
        if errs:
            log(f"{op} output check failed: {errs[:5]}")
        result[op] = errs
    return result


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from geobench import host

    t_proc = host.process_start_time()
    snap_start = host.snapshot()
    cores = host.nproc()
    try:  # the program under test: absent -> fail before any work
        import geoengine.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"geobench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    configure_env()

    def log(msg):
        print(f"geobench: {msg}", file=sys.stderr, flush=True)

    if args.trace:
        from geobench.trace import run_traced

        record = run_traced(args, cores, t_proc, log)
    else:
        record = run_untraced(args, cores, t_proc, log)
    snap_end = host.snapshot()
    record.update({
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "cores": cores, "shuffle_partitions": cores,
        "seconds": args.seconds,
        "host": {"start": snap_start, "end": snap_end,
                 "steal_share": host.steal_share(snap_start, snap_end)},
    })
    path = os.path.join(
        WORK, f"record-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    print(json.dumps({"record": path, "steal_share":
                      record["host"]["steal_share"],
                      "loadavg": [snap_start["loadavg"], snap_end["loadavg"]]}))
    print(json.dumps(record["result"]))
    return 0


def setup(args, spark, log):
    """Inputs generated and stored SETUP_REPS times (each timing kept),
    then the warm pass: one call per op with its output collected for the
    checks, which run after the window."""
    from geobench import inputs
    from geobench.workloads import TABLES, WORKLOADS, Inputs

    inputs_s = []
    for _ in range(SETUP_REPS):
        t0 = time.time()
        work = inputs.prepare(WORK, args.scale, args.seed, spark,
                              TABLES[args.workload])
        inputs_s.append(time.time() - t0)
    inp = Inputs(spark, work, args.seed, inputs.SIZES[args.scale])
    t0 = time.time()
    outs = collect_pass(inp, WORKLOADS[args.workload])
    return inputs_s, inp, time.time() - t0, outs


def run_untraced(args, cores, t_proc, log) -> dict:
    from geobench import host
    from geobench.workloads import WORKLOADS

    ops = WORKLOADS[args.workload]
    session = Session(cores)
    spark = session.spark
    t_session = time.time() - t_proc
    try:
        inputs_s, inp, t_warm, outs = setup(args, spark, log)
        setup_s = t_session + median(inputs_s) + t_warm
        window = run_window(inp, ops, args.seconds, log)
        cached_left = persistent_rdds(spark)
        rss = host.spark_rss_mb(spark)
        t0 = time.time()
        check = run_checks(inp, outs, args.corrupt, log)
        t_check = time.time() - t0
    finally:
        session.stop()

    failed = window["failed"] + sum(1 for e in check.values() if e)
    attempted = window["attempted"] + len(check)
    n = len(window["passes"])
    metrics = {
        "pass_cpu_s": {"value": median(window["cpu"]), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    return {
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
        "setup": {"session_s": t_session, "inputs_s": inputs_s,
                  "warm_pass_s": t_warm},
        "check_s": t_check,
        # the highest percentile the sample supports with >= 10 samples
        # beyond it (None below 11 samples: only the median is reported)
        "samples": n, "max_percentile": 100 * (1 - 10 / n) if n > 10 else None,
        # wall time per pass: recorded, not an end-to-end metric (its
        # run-to-run spread on a shared host exceeds any usable bound)
        "pass_s": median(window["passes"]), "passes_s": window["passes"],
        "passes_cpu_s": window["cpu"],
        # JVM compile time in each pass (part of its CPU seconds)
        "passes_jit_s": window["jit"],
        "op_s": window["op_s"],
        "op_s_median": {op: median(v) for op, v in window["op_s"].items()},
        "fail_ratio": failed / attempted,
        "cached_rdds_left": cached_left,
        # a traced-run metric: across seeds it did not repeat within a tenth
        "peak_rss_mb": rss,
        "checks": check,
    }


if __name__ == "__main__":
    sys.exit(main())
