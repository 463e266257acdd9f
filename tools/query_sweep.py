"""Time EVERY declared query's Spark side (noop sink) at a given sf_dir —
the round-6 measure-everything pass over the full registry, not just the
bench headline. Run:  python tools/query_sweep.py [sf_dir] [names...]

Streaming/stateful queries execute their own micro-batches when built;
their numbers are end-to-end operator latency, same as the driver's
correctness runs pay."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from geoengine.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    spark = get_spark("query-sweep", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out = {}
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out[name] = round(time.time() - t0, 2)
        except Exception as ex:  # noqa: BLE001 - sweep must finish
            out[name] = f"ERR {type(ex).__name__}: {str(ex)[:80]}"
        spark.sparkContext.setJobDescription(None)
    for k, v in sorted(out.items(), key=lambda kv: -(kv[1] if isinstance(kv[1], float) else 1e9)):
        print(f"{k:32s} {v}")
    print(json.dumps({"sweep": out, "sf": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
