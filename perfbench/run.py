#!/usr/bin/env python3
"""cellbase-spark benchmark.

    python3 perfbench/run.py --workload pipeline|facade --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. Each workload drives the engine's public
entry points on the sf0.1 testdata (``$SPARK_GRAFT_SF_DIR`` overrides the
directory), checks every output, and prints:

- a ``perfbench-info`` line: workload, seed, cpus, sf, Spark version;
- a ``perfbench-report`` line: every named metric the workload measures,
  with its unit and sample count (see BENCHMARK.json and
  perfbench/README.md);
- last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``
  holding the end-to-end metrics (``--trace 0``) or the per-layer metrics
  of a traced run (``--trace 1``), whose spans go to stderr as one
  ``perfbench-spans`` line at exit.

``--workload all`` runs every workload untraced and then traced, each in
its own process, and adds the trace overhead per workload. All scratch
files live in a per-run directory under ``.perfbench_run/`` in the
checkout and are deleted at exit; oracle digests are cached in
``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline", "facade")
# end-to-end metric -> unit; every workload reports all of them
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms", "ingest_s": "s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def find_sf_dir() -> str:
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    import __spark_entry__  # names the testdata root (SMOKE_SF_DIR)

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")


def run_one(args) -> int:
    from perfbench import layers
    from perfbench.harness import Bench, cpus

    sf_dir = find_sf_dir()
    if not os.path.isdir(sf_dir):
        print(f"perfbench: testdata not found at {sf_dir}", file=sys.stderr)
        return 2
    mod = importlib.import_module(f"perfbench.{args.workload}")
    bench = Bench(ROOT, sf_dir, args.seed, args.seconds, bool(args.trace))
    try:
        bench.setup(lambda spark: mod.prepare(bench, spark))
        import pyspark

        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus(), "sf": os.path.basename(sf_dir),
            "spark": pyspark.__version__,
        }
        res = mod.run(bench)
        report = mod.report(bench, res)
        bench.stop_session()
        if args.trace:
            metrics = layers.per_layer(bench, args.workload, res)
            # the spans, kept in memory during the run, go out at its end
            print("perfbench-spans " + json.dumps(bench.tracer.dump()), file=sys.stderr)
        else:
            values = {
                "setup_s": bench.setup_s(),
                "pass_s": statistics.median(res["pass_s"]),
                "op_p50_ms": res["op_p50_ms"],
                "ingest_s": res["ingest_s"],
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        bench.close()
    report["setup_s"] = {"value": bench.setup_s(), "unit": "s", "n": len(bench.setup_samples)}
    report["error_rate"] = {
        "value": bench.failed / max(bench.attempted, 1), "unit": "ratio", "n": bench.attempted,
    }
    print("perfbench-info " + json.dumps(info))
    print("perfbench-report " + json.dumps(report))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    code = 0
    for wl in WORKLOADS:
        last = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"perfbench: {wl} trace={trace} exited {out.returncode}", file=sys.stderr)
                code = 1
                break
            for line in lines:
                print(line)
            last[trace] = json.loads(lines[-1])
        if len(last) == 2:
            untraced = last[0]["metrics"]["pass_s"]["value"]
            traced = last[1]["metrics"]["trace.pass_s"]["value"]
            print("perfbench-overhead " + json.dumps({
                "workload": wl, "pass_s": untraced, "trace.pass_s": traced,
                "overhead": traced / untraced - 1.0,
            }))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "cellbase_spark")):
        print("perfbench: cellbase_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    # import perfbench as a package from the checkout root, never its
    # modules as top-level names
    sys.path[0] = ROOT
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
