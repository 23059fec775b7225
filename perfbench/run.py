#!/usr/bin/env python3
"""Benchmark of the parse → enrich → route → aggregate pipeline.

    python3 perfbench/run.py --workload batch_route --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it (``detail: {...}``) carries quartiles,
sample counts and the stream's backlog and generator lateness. See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload and probe at toy sizes in one "
                        "process, traced, with the oracle checks; exits 1 "
                        "on any failure")
    a = p.parse_args(argv)
    if not a.smoke and not a.workload:
        p.error("--workload is required (or --smoke)")
    return a


def _result(b, trace: bool) -> dict:
    from perfbench.workloads import END_TO_END, PER_LAYER
    spec = PER_LAYER if trace else END_TO_END
    values = b.layers if trace else b.metrics
    missing = [n for n, _ in spec
               if not math.isfinite(float(values.get(n, math.nan)))]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {"correct": b.failed == 0 and b.attempted > 0,
            "attempted": b.attempted, "failed": b.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u}
                        for n, u in spec}}


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fluent_plugin_geoip_spark",
                                       "__init__.py")):
        print("perfbench: run from a checkout of the repository (the "
              "fluent_plugin_geoip_spark package is missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import (
        WorkDir, machine_cores, start_session, stop_session,
    )
    from perfbench.workloads import SMOKE_SIZES, WORKLOADS, run_workload
    names = list(WORKLOADS) if a.smoke else [a.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = machine_cores()
    work = WorkDir("smoke" if a.smoke else a.workload)
    spark = None
    try:
        spark = start_session(work, cores)
        session_s = time.perf_counter() - T_START
        ok = True
        for name in names:
            trace = a.smoke or bool(a.trace)
            b = run_workload(
                name, spark, work, a.seed, 3 if a.smoke else a.seconds,
                cores, trace, session_s,
                **({"sizes": SMOKE_SIZES} if a.smoke else {}))
            spark = b.spark
            res = _result(b, trace)
            if b.errors:
                b.detail["errors"] = b.errors
            b.detail["failed_frac"] = b.failed / b.attempted
            print("detail: " + json.dumps(b.detail, default=str), flush=True)
            ok = ok and res["correct"]
            if a.smoke:
                print(f"smoke {name}: correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}",
                      flush=True)
        if not a.smoke:
            print(json.dumps(res), flush=True)
        return 0 if ok or not a.smoke else 1
    finally:
        if spark is not None:
            stop_session(spark)
        work.close()


if __name__ == "__main__":
    sys.exit(main())
