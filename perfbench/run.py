"""Repo benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload wh_batch --seed 1 --seconds 10 --trace 0

Workloads: ``wh_batch`` and ``llm_scale`` (closed-loop passes over pinned
warehouse or LLM queries, listed in ``BENCHMARK.json``) and ``wh_stream``
(Structured Streaming: capacity, then latency at a fixed offered rate; run
by hand, see ``spec.json``). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` adds a traced pass and prints the per-layer metrics. Metric
names and units come from ``BENCHMARK.json`` (``spec.json`` for
``wh_stream``). The last stdout line is ``{"correct", "attempted",
"failed", "metrics"}``; progress goes to stderr. The run's spans and, when
traced, every per-layer figure (per plan layer too) go to
``.perfbench/runs/<run id>/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time
import types

PROCESS_START = time.time()
sys.path.insert(0, os.getcwd())

from perfbench import harness  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
STREAM = "wh_stream"


def metric_units(workload: str, trace: bool) -> dict[str, str]:
    """Name -> unit of every metric the run prints."""
    key = "per_layer" if trace else "end_to_end"
    if workload == STREAM:
        with open(os.path.join(HERE, "spec.json")) as f:
            return json.load(f)[STREAM][key]
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def workloads() -> list[str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]] + [STREAM]


def main() -> int:
    # SIGTERM unwinds like an exception, so the JVM and its workers are
    # stopped and waited for on every way out of the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.adopt_orphans()
    try:
        result = run_workload()
    finally:
        harness.end_children()
    if result is None:
        return 2
    # printed once the JVM is gone, so nothing it writes comes after it
    print(json.dumps(result), flush=True)
    return 0


def run_workload() -> dict | None:
    """Runs one workload; its result line's object, or None if the engine
    is not there."""
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    harness.prepare_env()
    try:
        import gmall_flink_realtime4_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not found in {os.getcwd()}: {e}",
              file=sys.stderr)
        return None
    units = metric_units(args.workload, bool(args.trace))
    mod = importlib.import_module(
        "perfbench.stream" if args.workload == STREAM else "perfbench.batch")
    run_id, run_dir = harness.new_run_dir(args.workload, args.seed)
    spans = harness.Spans(run_id)
    load = harness.LoadAvg()
    t_gen = time.perf_counter()
    with spans.span("inputs"):
        data_dir, want = mod.prepare(args.workload, args.seed)
    excluded = time.perf_counter() - t_gen
    sessions = harness.Sessions(spans)
    ctx = types.SimpleNamespace(sessions=sessions, spans=spans, load=load,
                                data_dir=data_dir, want=want, run_dir=run_dir)
    record = {}
    try:
        ctx.setup = harness.set_up(sessions, data_dir, PROCESS_START, excluded)
        record = harness.run_record(sessions.spark, args.seed, load, args.workload)
        print(f"# run {json.dumps(record)}", file=sys.stderr, flush=True)
        res = mod.run(ctx, args.workload, args.seed, args.seconds, bool(args.trace))
        if args.trace:
            values = {k: v for k, v in ctx.setup.items() if k.startswith("session.")}
            values.update(res["layers"])
            with open(os.path.join(run_dir, "layers.json"), "w") as f:
                json.dump(values, f, indent=1, sort_keys=True)
        else:
            values = res["metrics"]
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    finally:
        sessions.stop()
        record = {**record, "loadavg_1m": load.record()}
        spans.dump(os.path.join(run_dir, "spans.jsonl"), record)
    summary = {k: res[k] for k in res if k != "layers"}
    summary["fail_ratio"] = res["failed"] / res["attempted"]
    print(f"# summary {json.dumps(summary)} loadavg_1m={json.dumps(load.record())}",
          file=sys.stderr)
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
