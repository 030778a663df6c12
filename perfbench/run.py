"""The repo's benchmark: one command per workload run.

    python3 perfbench/run.py --workload radar-ingest --seed 1 --seconds 10 --trace 0

Workloads: ``radar-ingest`` and ``curation-batch`` (listed in
BENCHMARK.json) and ``corpus-nightly`` (runnable, not listed: one run
takes minutes). The program is driven only through its public
functions, in this one process, at ``local[<cores>]``.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same seed in three sessions of one process over
one root: untraced, traced (spans and Spark's event log on), untraced;
it prints the per-layer table of the traced session and the tracing
overhead (traced median cycle minus the mean of the untraced ones).

The last stdout line is the result object (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is a report with every
workload metric by name, unit, median, the highest percentile with ten
samples beyond it, and the sample count. Exits 2 without a result when
the program cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import spans as trace  # noqa: E402

sys.path.insert(1, harness.ROOT)

WORKLOADS = {
    "radar-ingest": ("radar", "Radar"),
    "curation-batch": ("curation", "Curation"),
    "corpus-nightly": ("corpus", "Corpus"),
}
GENERIC_UNITS = {"cycle_s": "s", "bulk_per_s": "1/s"}
LAYER_UNITS = {"wall_s": "s", "self_s": "s", "tasks": "count", "cpu_s": "s",
               "shuffle_bytes": "bytes", "py_bytes": "bytes", "py_s": "s"}


def _median(xs):
    return statistics.median(xs) if xs else None


def _start(run, event_log: bool):
    spark = harness.start_spark(run, event_log)
    trace.TRACER.spark = spark
    return spark


def _stop(spark) -> None:
    trace.TRACER.enabled = False
    trace.TRACER.spark = None
    spark.stop()


def untraced(wl, run, seconds: float) -> tuple[dict, dict]:
    """One session: session start plus the workload's one-time work on
    a fresh root (the set-up), then the measured loop."""
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = _start(run, event_log=False)
        try:
            wl.setup(spark, run.fresh(wl.name))
            setup_s = time.perf_counter() - t0
            wl.measure(seconds, wl.MIN_CYCLES)
            wl.finish()
        finally:
            _stop(spark)
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    for generic, series in wl.GENERIC.items():
        metrics[generic] = (_median(wl.samples[series]), GENERIC_UNITS[generic])
    report = {name: {"unit": unit, **harness.summary(wl.samples[name])} for name, unit in wl.UNITS.items()}
    report["setup_s"] = {"unit": "s", **harness.summary([setup_s])}
    report["peak_rss_mb"] = {"unit": "MB", **harness.summary([rss.peak / 2**20])}
    return metrics, report


def traced(wl, run, seconds: float) -> tuple[dict, dict]:
    """Three sessions over one root: untraced (after the set-up),
    traced (spans plus Spark's event log), untraced again, a third of
    the seconds each; the workload's closing step is left out. The
    per-layer table comes from the traced session's cycles; the
    tracing overhead is their median minus the mean of the two
    untraced medians, so JVM warm-up, which favours later sessions,
    cancels to first order."""
    cycle = wl.samples[wl.GENERIC["cycle_s"]]
    third = seconds / 3
    spark = _start(run, event_log=False)
    try:
        wl.setup(spark, run.fresh(wl.name))
        wl.measure(third, 1)
    finally:
        _stop(spark)
    before = _median(cycle)
    n0 = len(cycle)

    spark = _start(run, event_log=True)
    try:
        wl.resume(spark)
        for k in wl.counts:
            wl.counts[k] = 0
        c0 = wl.cycles
        old_gen = harness.old_gen_pool(spark)
        old_gen.resetPeakUsage()
        trace.TRACER.reset()
        trace.TRACER.enabled = True
        wl.measure(third, wl.MIN_CYCLES)
        trace.TRACER.enabled = False
        old_gen_peak_mb = old_gen.getPeakUsage().getUsed() / 2**20
        final = wl.final_counts() if hasattr(wl, "final_counts") else {}
        cycles = wl.cycles - c0
        counts = {**wl.counts, **final}
    finally:
        _stop(spark)
    traced_cycle = _median(cycle[n0:])
    n1 = len(cycle)

    spark = _start(run, event_log=False)
    try:
        wl.resume(spark)
        wl.measure(third, 1)
    finally:
        _stop(spark)
    after = _median(cycle[n1:])

    jobs, stages = trace.read_event_log(run.sub("eventlog"))
    table = trace.reduce_spans(trace.TRACER.spans, jobs, stages, cycles)
    metrics = {}
    for span_name in trace.spans_for(wl.name):
        for field, unit in LAYER_UNITS.items():
            metrics[f"{span_name}.{field}"] = (table[span_name][field], unit)
    n = max(cycles, 1)
    for name, per_cycle in trace.counts_for(wl.name).items():
        if name == "io.fs.calls":
            value = trace.TRACER.calls.get("io.fs", 0)
        else:
            value = counts.get(name, 0)
        metrics[name] = (value / n, "count") if per_cycle else (value, "ratio")
    metrics["jvm.old_gen_peak_mb"] = (old_gen_peak_mb, "MB")
    untraced_cycle = (before + after) / 2
    overhead = traced_cycle - untraced_cycle
    metrics["trace.overhead_s"] = (overhead, "s")
    metrics["trace.overhead_ratio"] = (overhead / untraced_cycle, "ratio")
    report = {
        "cycles": cycles,
        "untraced_cycle_s": [before, after],
        "traced_cycle_s": traced_cycle,
        "spans": table,
        "jobs_in_event_log": len(jobs),
    }
    return metrics, report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        importlib.import_module("pyspark")
        session = importlib.import_module("radares_spark.session")
        if not session.__file__.startswith(harness.ROOT + os.sep):
            raise ImportError(f"radares_spark found at {session.__file__}, outside the checkout")
    except ImportError as e:
        print(f"perfbench: cannot import the program from {harness.ROOT}: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.RunDir(args.workload, args.seed, bool(args.trace))
    harness.prepare_env(run)
    ledger = harness.Ledger()
    modname, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(modname), cls)(args.seed, ledger)
    metrics, report = {}, {}
    try:
        wl.prepare(args.seconds)
        trace.install(wl.taps(), spans=bool(args.trace))
        metrics, report = (traced if args.trace else untraced)(wl, run, args.seconds)
    except Exception as e:  # the run still reports what failed
        ledger.error(f"{args.workload} run", e)
    finally:
        harness.shutdown_jvm()
        run.cleanup()

    result = {
        "correct": ledger.failed == 0 and bool(metrics),
        "attempted": max(ledger.attempted, 1),
        "failed": ledger.failed if ledger.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
    }
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": harness.cores(),
        "failed_ratio": result["failed"] / result["attempted"],
        "problems": ledger.problems,
        "report": report,
    }
    with open(os.path.join(run.path, "result.json"), "w") as f:
        json.dump({"result": result, **full}, f, indent=1, default=str)
    print(json.dumps({"report": full}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
