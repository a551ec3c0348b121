"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the workload
and prints its end-to-end metrics; ``--trace 1`` runs the same workload
with Spark's event log on and spans recorded, and prints the per-layer
metrics instead (spans are written to ``.perfbench_out/``).  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (name -> value and unit, as listed in BENCHMARK.json).
The line before it records the pinned environment and workload detail.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from common import ROOT, RssSampler, RunDir, adopt_orphans, driver_mem_for_host, pin_env, stop_children

WORKLOADS = ("curation", "cdc_relay")


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.trace = bool(args.trace)

    sys.path.insert(0, str(ROOT))
    needed = ("pgshovel_spark/__init__.py", "tools/selfcheck.py")
    missing = [p for p in needed if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()

    nproc = len(os.sched_getaffinity(0))
    # at most nproc task threads; the relay leaves a core for Postgres and
    # the generator
    cpus = min(4, nproc) if args.workload == "curation" else max(1, min(4, nproc) - 1)
    adopt_orphans()
    run_dir = RunDir(args.workload, args.seed)
    try:
        pinned = pin_env(run_dir, cpus, driver_mem_for_host(1), event_log=args.trace)
        if args.workload == "curation":
            import curation as wl
        else:
            import cdc_relay as wl
        sampler = RssSampler(os.getpid())
        t0 = time.perf_counter()
        res = wl.run(args, run_dir, pinned, sampler)
        res["tracer"].write(ROOT / ".perfbench_out" / f"{args.workload}-s{args.seed}.spans.json")
    finally:
        stop_children()
        run_dir.remove()

    if args.trace:
        names = spec["per_layer"]
        values = res["layer"]
    else:
        names = spec["end_to_end"]
        values = res["metrics"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "env": {k: v for k, v in pinned.items() if k != "PYSPARK_SUBMIT_ARGS"},
        "submit_args": pinned["PYSPARK_SUBMIT_ARGS"],
        "run_wall_s": time.perf_counter() - t0,
        "peak_rss_mb_by_process": {k: v / 1024 for k, v in sampler.peak_by_name.items()},
        "detail": res["detail"],
    }
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
