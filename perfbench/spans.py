"""Measurement plumbing: spans, layer wrappers, the Spark event-log reader,
the process-tree memory sampler, the process sweep and the cache-leak guard.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing here edits the engine's files. Counts come from the
uncompressed event log of the benchmark's own session: a task counts toward
a span when its launch time falls inside the span's wall-clock interval (one
closed-loop client, so operations never overlap).
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import signal
import statistics
import threading
import time

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: (name, parent, start, end) per span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def total(self, name: str, within: dict | None = None) -> float:
        """Summed duration of the spans called ``name`` (inside ``within``)."""
        return sum(duration(s) for s in self.find(name, within))

    def find(self, name: str, within: dict | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        if within is not None:
            out = [s for s in out if within["start"] <= s["start"] and s["end"] <= within["end"]]
        return out

    def one(self, name: str, within: dict | None = None) -> dict:
        (found,) = self.find(name, within)
        return found

    def executing(self, span: dict) -> float:
        """``span``'s duration minus the plan building inside it (table reads
        resolve schemas; ``plans.build`` assembles the plan): the seconds
        spent running the query."""
        planning = [s for s in self.spans if s["name"] in PLANNING and inside(s, span)]
        top = [s for s in planning if not any(o is not s and inside(s, o) for o in planning)]
        return duration(span) - sum(duration(s) for s in top)

    def dump(self) -> list[dict]:
        return [
            {**s, "start": round(s["start"], 4), "end": round(s["end"], 4)} for s in self.spans
        ]


PLANNING = ("sources.read_snapshot", "plans.build")


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def inside(inner: dict, outer: dict) -> bool:
    """True when span ``inner`` lies within span ``outer``."""
    return outer["start"] <= inner["start"] and inner["end"] <= outer["end"]


# the engine functions wrapped per layer; the wrappers are installed only in
# traced runs, so untraced timings carry no span cost
LAYER_FUNCTIONS = {
    "sources": ("video_features_spark.sources.tables", ["read_snapshot"]),
    "features": ("video_features_spark.operators.features", ["extract_image_features"]),
    "asof": ("video_features_spark.operators.asof", ["asof_join"]),
    "gate": ("video_features_spark.operators.asof", ["assert_no_leakage"]),
    "windows": ("video_features_spark.operators.windows", ["lag_lead", "backfill", "sessionize"]),
    "checkpoint": ("video_features_spark.sources.checkpoint", ["checkpointed_write", "load_manifest"]),
    "plans": ("video_features_spark.plans.pipeline", ["build", "run"]),
    "dedup": (
        "video_features_spark.operators.dedup",
        ["minhash_signatures", "lsh_candidate_pairs", "jaccard_on_pair_sets",
         "minhash_dedup", "connected_components", "dedup_groups"],
    ),
    "text": ("video_features_spark.operators.text", ["curate_corpus"]),
}


@contextlib.contextmanager
def layer_spans(tracer: Tracer):
    """While active, each listed module function is replaced by a wrapper
    recording a span named ``<layer>.<function>``; the engine imports these
    names at call time or looks them up as module globals, so nested calls
    are traced too. Parquet writes record a ``sink.parquet`` span carrying
    their path. The originals are restored on exit."""
    import importlib

    from pyspark.sql.readwriter import DataFrameWriter

    saved = []
    for layer, (modname, names) in LAYER_FUNCTIONS.items():
        mod = importlib.import_module(modname)
        for name in names:
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            setattr(mod, name, _traced(tracer, f"{layer}.{name}", fn))
    write = DataFrameWriter.parquet
    saved.append((DataFrameWriter, "parquet", write))

    @functools.wraps(write)
    def parquet(self, path, *args, **kwargs):
        with tracer.span("sink.parquet", path=str(path)):
            return write(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def _traced(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return wrapper


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_METRICS = {
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "FlatMapCoGroupsInPandas")


class EventLog:
    """Parsed event log of one finished session (call after ``spark.stop()``)."""

    def __init__(self, log_dir: str):
        self.tasks: list[dict] = []
        self.jobs: list[float] = []
        self.plans: dict[int, dict] = {}  # execution id -> last plan info
        self.python_row_accums: set[int] = set()
        self.file_size_accums: set[int] = set()  # scans' "size of files read"
        self.query_metric_updates: dict[int, list] = {}  # execution id -> [(accum id, value)]
        files = sorted(
            f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            accums = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            task = {
                "stage": e["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "accum_ids": {
                    a["ID"]: int(a.get("Update") or 0) for a in info.get("Accumulables", [])
                    if a.get("Name") == "number of output rows"
                },
            }
            for name, key in PY_METRICS.items():
                task[key] = int(accums.get(name) or 0)
            self.tasks.append(task)
        elif kind == "SparkListenerJobStart":
            self.jobs.append(e["Submission Time"] / 1000.0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            info = e["sparkPlanInfo"]
            start = e["time"] / 1000.0 if kind.endswith("Start") else None
            prior = self.plans.get(e["executionId"], {}).get("time", 0.0)
            self.plans[e["executionId"]] = {"time": start or prior, "info": info}
            self._collect_accums(info)
        elif kind.endswith("DriverAccumUpdates"):
            self.query_metric_updates.setdefault(e["executionId"], []).extend(e["accumUpdates"])

    def _collect_accums(self, node: dict) -> None:
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows" and node["nodeName"].startswith(PYTHON_NODES):
                self.python_row_accums.add(m["accumulatorId"])
            if m["name"] == "size of files read":
                self.file_size_accums.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._collect_accums(child)

    def summary(self, span: dict) -> dict:
        """Totals over the tasks launched (jobs submitted, queries started)
        inside ``span``'s interval."""
        # event-log times are whole milliseconds; widen by one tick each side
        lo, hi = span["start"] - 0.001, span["end"] + 0.001
        tasks = [t for t in self.tasks if lo <= t["launch"] <= hi]
        out = {
            "tasks": len(tasks),
            "jobs": sum(lo <= j <= hi for j in self.jobs),
            "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "input_bytes": sum(t["input_bytes"] for t in tasks),
            "file_bytes": sum(
                int(v) for x, p in self.plans.items() if lo <= p["time"] <= hi
                for a, v in self.query_metric_updates.get(x, []) if a in self.file_size_accums
            ),
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "python_rows": sum(
                v for t in tasks for k, v in t["accum_ids"].items() if k in self.python_row_accums
            ),
            "python_tasks": sum(1 for t in tasks if t["python_run_ms"] or t["bytes_to_python"]),
            "exchanges": sum(
                _count_nodes(p["info"], "Exchange")
                for p in self.plans.values() if lo <= p["time"] <= hi
            ),
            # skew of the post-exchange stages (shuffle readers): where a hot
            # key lands on one task
            "task_skew": _task_skew([t for t in tasks if t["shuffle_read"] > 0]),
        }
        for key in PY_METRICS.values():
            out[key] = sum(t[key] for t in tasks)
        return out


def _count_nodes(node: dict, name: str) -> int:
    return (node["nodeName"] == name) + sum(_count_nodes(c, name) for c in node.get("children", []))


def _task_skew(tasks: list[dict]) -> float:
    """max ÷ median task time of the costliest multi-task stage."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["duration"])
    multi = [d for d in by_stage.values() if len(d) > 1]
    if not multi:
        return 0.0
    worst = max(multi, key=sum)
    med = statistics.median(worst)
    return max(worst) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# memory and caches
# ---------------------------------------------------------------------------


class RssSampler:
    """Peak resident memory of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def become_subreaper() -> None:
    """Adopt orphaned descendants (a Python worker whose JVM has exited, say)
    instead of leaving them to init, so ``stop_descendants`` can reap them."""
    import ctypes

    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _reap_children() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_descendants(grace: float = 30) -> list[int]:
    """Wait up to ``grace`` seconds for every descendant to end and reap it;
    kill whatever is still there, and wait for that too. Returns the
    processes that had to be killed."""
    killed: list[int] = []
    deadline = time.time() + grace
    while True:
        _reap_children()
        left = descendants(os.getpid())
        if not left:
            return killed
        if time.time() >= deadline:
            if killed:  # killed and still listed: not ours to reap
                return killed
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed, deadline = left, time.time() + 10
        time.sleep(0.05)


def release_caches(spark) -> int:
    """Count the persistent RDDs still registered (materialised ``cache()``
    plans and ``localCheckpoint`` blocks), then drop them all so a later
    operation cannot be served by an earlier one's leftovers."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()  # noqa: SLF001
    leaked = len(rdds)
    spark.catalog.clearCache()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    return leaked
