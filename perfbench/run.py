"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a source checkout (``relational``,
``corpus`` and ``iterative`` are batch query passes; ``stream`` is the
3-stage adder topology and a stateful running count), checks its
outputs, and prints as the last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics; the line
before it carries the environment and a per-query (or per-phase)
detail table. Traced runs also write their spans to
``.perfbench/results/``. Everything the run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, Context, Spans, environment, prepare_process, stop_spark, write_json  # noqa: E402

WORKLOADS = ("relational", "corpus", "iterative", "stream")


def metric_units(trace: bool) -> dict[str, str]:
    """The metrics a run reports, with units, as ``BENCHMARK.json`` names them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale: tiny inputs")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafkastreamer_spark")):
        print("perfbench: engine package kafkastreamer_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    t_process = time.perf_counter()
    workdir = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    prepare_process(workdir)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, workdir,
                  Spans(bool(args.trace)))
    env = environment()
    if env["loaded_box"]:
        print(f"perfbench: WARNING box already loaded at start: loadavg {env['loadavg_at_start']}"
              f" on {env['affinity_cpus']} cpus", file=sys.stderr)
    run_span = ctx.spans.add("run", time.time(), time.time(), None, workload=args.workload)
    try:
        if args.workload == "stream":
            import stream as workload
        else:
            import batch as workload
        e2e, layers, detail = workload.run(ctx)
    finally:
        t_stop = time.perf_counter()
        stop_spark(ctx)
        shutil.rmtree(workdir, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop
    if run_span >= 0:
        ctx.spans.items[run_span]["end"] = time.time()

    layers["trace.wall_s"] = e2e["wall_s"]
    layers["failed_ratio"] = ctx.failed / max(ctx.attempted, 1)
    values = layers if args.trace else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in metric_units(bool(args.trace)).items()}
    detail.update(env=env, process_s=time.perf_counter() - t_process, stop_s=stop_s, failures=ctx.failures,
                  end_to_end=e2e, layers=layers)
    results = os.path.join(os.getcwd(), ".perfbench", "results")
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    write_json(os.path.join(results, stem + ".json"), detail)
    if args.trace:
        write_json(os.path.join(results, stem + "-spans.json"), ctx.spans.items)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
