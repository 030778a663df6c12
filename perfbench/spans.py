"""Spans around the program's public functions, and the reducer that
folds Spark's JSON-lines event log into a per-span table.

A span records name, start, end, thread and parent. Function spans
are installed by replacing every module-level reference to a public
function inside the loaded ``radares_spark`` modules with a wrapper;
nothing in the program changes. Plans that return a lazy DataFrame
are spanned from the workload with :func:`span` around build plus
materialization.

Spark jobs are attributed to a span by job group (the span sets it on
the calling thread) or, for jobs Spark submits from its own threads
(the ``foreachBatch`` sink), to the innermost span open at the job's
submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import sys
import threading
import time

# span -> [(module, attribute), ...] of the public functions it wraps
FUNCTION_SPANS = {
    "streaming.ingest_stream": [("radares_spark.streaming.ingest_stream", "run_ingest_stream")],
    "pipeline.ledger": [("radares_spark.pipeline.ledger", "idempotent_append")],
    "pipeline.run_log": [("radares_spark.pipeline.run_log", "append_run_log")],
    "cli.corpus_nightly": [("radares_spark.cli", "cmd_corpus_nightly")],
    "cli.crawl_nightly": [("radares_spark.cli", "cmd_crawl_nightly")],
    "cli.corpus_refresh": [("radares_spark.cli", "cmd_corpus_refresh")],
    "cli.shards_append": [("radares_spark.cli", "cmd_shards_append")],
    "io.fs": [],  # every public function of radares_spark.io.fs, filled in below
}
# spans the workloads open themselves around build + materialization
PLAN_SPANS = [
    "functions.histogram",
    "pipeline.audit",
    "operators.dedup",
    "operators.embed",
    "operators.retrieval",
    "operators.text",
    "operators.dsir",
    "pipeline.shards",
]
SPANS = list(FUNCTION_SPANS) + PLAN_SPANS
STAGE_FIELDS = ("tasks", "cpu_s", "shuffle_bytes", "py_bytes", "py_s")
# count -> reported per measured cycle (else once, as a ratio)
COUNTS = {
    "io.fs.calls": True,
    "ingest.rows_written": True,
    "ingest.groups_skipped": True,
    "ingest.quarantined": True,
    "crawl.kept": True,
    "refresh.n_store_buckets_read": True,
    "store_bytes_per_kept_byte": False,
}
# Only corpus-nightly reaches these. It is not in BENCHMARK.json (a
# bootstrap plus one night take over two minutes, see README.md), so the
# listed workloads do not report them.
CORPUS_ONLY = {
    "cli.corpus_nightly",
    "cli.crawl_nightly",
    "cli.corpus_refresh",
    "cli.shards_append",
    "io.fs",
    "io.fs.calls",
    "crawl.kept",
    "refresh.n_store_buckets_read",
    "store_bytes_per_kept_byte",
}


def spans_for(workload: str) -> list[str]:
    return [s for s in SPANS if workload == "corpus-nightly" or s not in CORPUS_ONLY]


def counts_for(workload: str) -> dict[str, bool]:
    return {c: v for c, v in COUNTS.items() if workload == "corpus-nightly" or c not in CORPUS_ONLY}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spark = None
        self.spans: list[dict] = []
        self.calls: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: dict[int, dict] = {}
        self._main = threading.main_thread().ident

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def reset(self) -> None:
        self.spans.clear()
        self.calls.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]["id"]
            else:  # a thread Spark started: the caller's innermost span
                opened = [s for s in self._open.values() if s["thread"] == self._main]
                parent = max(opened, key=lambda s: s["start"])["id"] if opened else None
            s = {"id": next(self._ids), "name": name, "parent": parent, "start": time.time(),
                 "thread": threading.get_ident()}
            self._open[s["id"]] = s
        stack.append(s)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None and s["thread"] == self._main:
            sc.setLocalProperty("spark.jobGroup.id", f"span-{s['id']}")
        try:
            yield
        finally:
            s["end"] = time.time()
            stack.pop()
            if sc is not None and s["thread"] == self._main:
                sc.setLocalProperty("spark.jobGroup.id", f"span-{stack[-1]['id']}" if stack else None)
            with self._lock:
                self._open.pop(s["id"], None)
                self.spans.append(s)
                self.calls[name] = self.calls.get(name, 0) + 1


TRACER = Tracer()
span = TRACER.span


def _fs_functions() -> list[tuple[str, str]]:
    from radares_spark.io import fs

    return [
        ("radares_spark.io.fs", n)
        for n, v in vars(fs).items()
        if callable(v) and not n.startswith("_") and getattr(v, "__module__", "") == fs.__name__
        and not isinstance(v, type)
    ]


def _replace_everywhere(orig, new) -> None:
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("radares_spark"):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


def install(taps: dict, spans: bool) -> None:
    """Wrap the functions the workload taps and, with ``spans``, every
    function span's targets. ``taps`` maps ``(module, attribute)`` to
    a callback that sees every return value (the workloads' output
    checks use it in untraced runs too)."""
    import importlib

    importlib.import_module("radares_spark.cli")
    targets = {}
    if spans:
        targets = {t: name for name, ts in FUNCTION_SPANS.items() for t in ts}
        for t in _fs_functions():
            targets[t] = "io.fs"
    for t in taps:
        targets.setdefault(t, None)
    for (modname, attr), name in targets.items():
        mod = importlib.import_module(modname)
        orig = getattr(mod, attr)
        if getattr(orig, "__perfbench__", False):
            continue
        cb = taps.get((modname, attr))

        def make(orig=orig, name=name, cb=cb):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                if name is None or not TRACER.enabled:
                    out = orig(*a, **k)
                else:
                    with TRACER.span(name):
                        out = orig(*a, **k)
                if cb is not None:
                    cb(out)
                return out

            wrapper.__perfbench__ = True
            return wrapper

        _replace_everywhere(orig, make())


# ---------------------------------------------------------------------------
# event-log reducer
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """``(jobs, stages)``: jobs carry submission time (s), job group
    and stage ids; stages carry summed task metrics."""
    jobs, stages = [], {}
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "t": ev["Submission Time"] / 1000.0,
                            "group": props.get("spark.jobGroup.id"),
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], dict.fromkeys(STAGE_FIELDS, 0))
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            st["py_bytes"] += int(acc.get("Update", 0))
                        elif acc.get("Name") == PY_RUN:
                            st["py_s"] += int(acc.get("Update", 0)) / 1000.0
    return jobs, stages


def _self_time(s: dict, kids: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    iv = sorted((max(k["start"], s["start"]), min(k["end"], s["end"])) for k in kids)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (s["end"] - s["start"]) - covered


def reduce_spans(spans: list[dict], jobs: list[dict], stages: dict[int, dict], cycles: int) -> dict:
    """Per-span ``wall_s`` and ``self_s`` (summed over calls) and the
    stage metrics of the jobs attributed to the span or its
    descendants, each divided by the number of measured cycles."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def ancestors(sid):  # a parent closed before the measured phase ends the chain
        while sid in by_id:
            yield sid
            sid = by_id[sid]["parent"]

    per_span_stage = {s["id"]: dict.fromkeys(STAGE_FIELDS, 0.0) for s in spans}
    seen_stages: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["t"]):
        inner = [s for s in spans if s["start"] <= job["t"] <= s["end"]]
        owner = max(inner, key=lambda s: s["start"])["id"] if inner else None
        group = None
        if job["group"] and job["group"].startswith("span-"):
            group = int(job["group"][5:])
        if group in by_id and (owner is None or group not in set(ancestors(owner))):
            owner = group
        if owner is None:
            continue
        for sid in job["stages"]:
            if sid in seen_stages or sid not in stages:
                continue
            seen_stages.add(sid)
            for a in ancestors(owner):
                for f in STAGE_FIELDS:
                    per_span_stage[a][f] += stages[sid][f]

    table = {name: dict.fromkeys(("wall_s", "self_s", *STAGE_FIELDS), 0.0) for name in SPANS}
    for s in spans:
        row = table[s["name"]]
        # a span nested in a span of the same name counts once
        if any(by_id[a]["name"] == s["name"] for a in ancestors(s["parent"])):
            continue
        row["wall_s"] += s["end"] - s["start"]
        for f in STAGE_FIELDS:
            row[f] += per_span_stage[s["id"]][f]
    for s in spans:
        table[s["name"]]["self_s"] += _self_time(s, kids.get(s["id"], []))
    n = max(cycles, 1)
    return {name: {k: v / n for k, v in row.items()} for name, row in table.items()}
