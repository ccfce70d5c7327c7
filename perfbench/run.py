"""The repository benchmark: seeded workloads against the engine.

Run from the repository root::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads (why each was chosen, and the layers each exercises and
bypasses, are in ``BENCHMARK.json`` and ``perfbench/layers.json``):

- ``dashboard``: Zipf draws from a seeded pool of routable SQL over three
  cubes; the route memo serves the repeats.
- ``ingest``: one day lands per step: ``refresh_cube`` on a day-segmented
  events cube, 40 distinct routed reads that plan cold, one document slice
  through gate, decontamination, dedup and split, and one ``IVFIndex.topk``
  batch. Its latency is the reads'; every operation counts in
  ``ops_per_s``.

One process, one closed-loop client, Spark ``local[<cores>]``. Inputs are
generated from ``--seed`` inside the checkout (``.perfbench_work/``, removed
at exit). ``setup_s`` times source registration plus the cube and index
builds. After an untimed warm-up, ``--trace 0`` runs whole blocks of
operations (at least ``MIN_BLOCKS``, then more until ``--seconds`` have
passed) and reports the end-to-end metrics. ``--trace 1`` runs a fixed
prefix of the same blocks, tracing every other SQL query and every
refresh, curation and IVF batch, so that its exact counts repeat from run
to run; it reports the per-layer metrics and the
tracing overhead and writes the spans to ``.perfbench_out/``. Every result
is checked after the loop; a wrong answer counts as a failed operation.
The last line of standard output is one JSON object.

On a shared virtual machine the host's speed moves from run to run: when
other tenants are busy, every query here slows by far more than the CPU
share the hypervisor takes. So an untraced loop times a fixed
one-partition Spark SQL query before every operation, and every
end-to-end time is scaled by the ratio of a reference time to that
query's median: the metrics read as if on the reference host, while a
change to the engine still moves them, because the calibration query
runs no engine code. The raw wall-clock figures, the scale and the stolen
CPU share are printed above the JSON line. The JVM runs its C1 compiler
only and the serial collector, so that a short run reaches its steady
state instead of measuring C2 compilation in progress, and its peak
memory repeats.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

WORKLOADS = ("dashboard", "ingest")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "kylin_on_parquet_v2_spark", "query", "engine.py")):
        print(
            f"perfbench: no engine package (kylin_on_parquet_v2_spark) under {root}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    from perfbench.harness import Bench

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args.workload, args.seed, work)
    try:
        result = bench.run(args.seconds, bool(args.trace))
        if args.trace:
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump(bench.tracer.dump(), f)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{args.workload:>10} {name:<36} {m['value']:>16.6g} {m['unit']}")
    for name, value in sorted(result.pop("report").items()):
        print(f"{args.workload:>10} {name:<36} {value:>16.6g}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
