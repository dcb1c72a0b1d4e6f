"""The repository's benchmark: one named workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory):
  query_mix      closed loop, one client, the 11 headline queries (sf0.1-shaped)
  etl_products   full plans.etl_graph.run_batch_etl passes (reference-shaped)
  stream_ingest  open-loop file feed into the streaming tally + upsert sink

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the event
log, job groups and plan walks and prints the per-layer metrics instead.
The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
"""

from __future__ import annotations

import time

T_TOP = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ningaloo_turtle_etl_spark"

WORKLOADS = {
    "query_mix": ("wl_query_mix", "QueryMix"),
    "etl_products": ("wl_etl_products", "EtlProducts"),
    "stream_ingest": ("wl_stream_ingest", "StreamIngest"),
}


def _since_process_start() -> float:
    """Seconds since this process was created, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _units() -> tuple[dict[str, str], dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}, spec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    before_top = _since_process_start()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to {HERE}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    # Python workers are forked by the JVM and import the package too:
    # export the repository root to them, whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    import importlib

    from common import EventLog, Run, peak_rss_mb, start_session, stop_session

    units, spec = _units()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    spark = None
    try:
        spark, start_s = start_session(run)
        t0 = time.monotonic()
        spark.range(1).count()
        first_action_s = time.monotonic() - t0
        module, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(module), cls)(run, spark)
        facts = wl.setup()
        setup_s = before_top + (time.monotonic() - T_TOP)

        with run.span("workload", workload=args.workload):
            wl.measure(args.seconds)

        e2e = {"setup_s": setup_s, **wl.end_to_end()}
        extra = wl.extra() if hasattr(wl, "extra") else {}
        rss = peak_rss_mb()
        e2e["peak_rss_mb"] = sum(rss.values())
        extra |= {f"peak_rss_mb.{k}": v for k, v in rss.items()}
        stop_session(spark)
        spark = None

        layers = {"session.start_s": start_s, "session.first_action_s": first_action_s}
        detail = {}
        if run.trace:
            log = EventLog(run.path("eventlog"))
            per_wl, jobs, n_ops = wl.layers(log)
            t = log.totals(jobs)
            for k in ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
                      "shuffle_write_bytes", "spill_bytes"):
                layers[f"spark.{k}"] = t[k] / n_ops
            layers.update(per_wl)
            # Metrics of layers this workload never calls read zero.
            for m in spec["per_layer"]:
                layers.setdefault(m["name"], 0)
            detail |= _overhead(run, e2e)
            detail["spans_file"] = os.path.relpath(run.write_spans(), ROOT)
        else:
            _save_untraced(run, e2e)
    finally:
        if spark is not None:  # a failed run still stops the JVM and waits for it
            stop_session(spark)
        run.cleanup()

    correct = run.failed == 0
    shown = layers if run.trace else e2e
    _print_table(args, facts, e2e, extra, layers if run.trace else {}, detail, run, units)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in sorted(shown)
                    if k in units},
    }))
    return 0


def _result_path(run) -> str:
    return os.path.join(run.base, "results", f"{run.workload}-{run.seed}.json")


def _save_untraced(run, e2e: dict) -> None:
    os.makedirs(os.path.dirname(_result_path(run)), exist_ok=True)
    with open(_result_path(run), "w") as f:
        json.dump(e2e, f)


def _overhead(run, e2e: dict) -> dict:
    """Tracing overhead: this traced run's end-to-end metrics against the
    last untraced run of the same workload and seed in this checkout."""
    try:
        with open(_result_path(run)) as f:
            base = json.load(f)
    except FileNotFoundError:
        return {"trace_overhead": "no untraced run of this workload and seed yet"}
    return {f"trace_overhead.{k}": (e2e[k] - v) / v for k, v in base.items() if v}


def _unit(name: str, units: dict) -> str:
    if name in units:
        return units[name]
    if name.startswith("trace_overhead"):
        return "share"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_files", "count"), ("_mb", "MB")):
        if name.split(".")[0].endswith(suffix) or name.endswith(suffix):
            return unit
    return ""


def _print_table(args, facts, e2e, extra, layers, detail, run, units) -> None:
    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} local[{os.cpu_count()}]")
    print(f"# setup facts: {json.dumps(facts, default=str)}")
    err = run.failed / run.attempted if run.attempted else float("nan")
    rows = [*e2e.items(), ("error_rate", err),
            *((k, v) for k, v in extra.items() if k not in layers),
            *layers.items(), *detail.items()]
    for name, value in rows:
        unit = _unit(name, units)
        print(f"  {name:<40} {value!s:>24} {unit}")
    if run.failures:
        print(f"# failed operations: {run.failures[:20]}")


if __name__ == "__main__":
    raise SystemExit(main())
