"""Streaming-dashboard benchmark: one command, three workloads.

    python3 perfbench/run.py --workload replay_backlog --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``replay_backlog``  closed-loop backlog drain through full_stream
- ``gold_refresh``    closed loop, one client refreshing the nine gold views;
                      its traced run also runs the live-serving probe

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). A failed
correctness check makes the exit code 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "big_data_streaming_dashboard_spark"

E2E = {"setup_s": "s", "throughput_rps": "1/s", "latency_ms_p50": "ms"}
WORKLOADS = ("replay_backlog", "gold_refresh")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [REPO, HERE]
    os.chdir(REPO)

    import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    try:
        if args.workload == "replay_backlog":
            import replay

            e2e = replay.run_replay(run)
        else:
            import gold

            e2e = gold.run_gold(run)
    except Exception:
        traceback.print_exc()
        print("perfbench: workload raised; no result", file=sys.stderr)
        run.close()
        return 1
    if run.trace:
        run.layer["trace.spans"] = float(len(run.tracer.spans))
        run.tracer.write(os.path.join(harness.STATE_DIR, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
    run.close()

    for p in run.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    if args.trace:
        print(
            f"perfbench: {args.workload} tracing overhead: latency "
            f"{run.layer.get('trace.latency_overhead_ms', 0.0):+.1f} ms, throughput "
            f"{run.layer.get('trace.throughput_overhead_rps', 0.0):+.1f} rec/s (traced minus untraced)"
        )
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in harness.LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()}
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
