"""Spans and per-layer Spark metrics for the traced benchmark run.

Spans are recorded from the benchmark's own files, around the calls into
each layer; nothing under ``translink/`` changes. For the batch pipeline the
tracer swaps ``translink.pipeline.stage_runner`` (which ``run_pipeline``
looks up at call time) for a wrapper that opens a span and sets a Spark job
group around every stage. After the session stops, the uncompressed event
log is parsed and every task's metrics are summed per job group, so each
layer's CPU, Python-worker, GC, shuffle and spill figures come from Spark
itself, not from hand-placed timers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

#: pipeline stage -> layer (the module that does the stage's work)
STAGE_LAYER = {
    "canonical": "canonicalize",
    "signed": "signatures",
    "pairs": "candidates",
    "scored": "scoring",
    "clusters": "clustering",
    "members": "report",
}
BATCH_LAYERS = ["canonicalize", "signatures", "candidates", "scoring",
                "clustering", "report"]
STREAM_PHASES = ["ingest", "store_read", "recluster"]

#: summed task metrics per job group, with their units
TASK_FIELDS = {
    "cpu_s": "s", "python_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "shuffle_records": "count", "spill_bytes": "B", "fetch_wait_s": "s",
    "failed_tasks": "count", "jobs": "count",
}
#: Spark SQL metric carrying the Python workers' run time (milliseconds)
PYTHON_TIME_METRIC = "time to run Python workers"
GROUP_PREFIX = "perfbench"


def group_id(op: str, layer: str) -> str:
    return f"{GROUP_PREFIX}|{op}|{layer}"


class Tracer:
    """Spans plus the Spark job group of every span, kept in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        #: extra job groups (e.g. a streaming query's run id) -> (op, layer)
        self.aliases: dict[str, tuple[str, str]] = {}

    def _set_group(self, gid: str | None, desc: str = "") -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, desc)

    @contextlib.contextmanager
    def op(self, op: str):
        """The span of one operation; jobs outside its layer spans land in
        the op's ``other`` group."""
        self._set_group(group_id(op, "other"), f"{op}: other")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"op": op, "layer": None, "name": op,
                               "start": t0, "end": time.perf_counter()})
            self._set_group(None)

    @contextlib.contextmanager
    def span(self, op: str, layer: str, name: str | None = None):
        self._set_group(group_id(op, layer), f"{op}: {name or layer}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append({"op": op, "layer": layer, "name": name or layer,
                               "start": t0, "end": time.perf_counter()})
            self._set_group(group_id(op, "other"), f"{op}: other")

    @contextlib.contextmanager
    def pipeline_stages(self, op: str):
        """Trace every ``run_pipeline`` stage inside the block."""
        import translink.pipeline as pipeline

        original = pipeline.stage_runner

        def traced_runner(cat, fp, timings, reporter):
            inner = original(cat, fp, timings, reporter)

            def _stage(name, build):
                with self.span(op, STAGE_LAYER[name], name):
                    return inner(name, build)

            return _stage

        pipeline.stage_runner = traced_runner
        try:
            yield
        finally:
            pipeline.stage_runner = original

    def layer_walls(self, op: str) -> dict[str, float]:
        walls: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] == op and s["layer"] is not None:
                walls[s["layer"]] += s["end"] - s["start"]
        return dict(walls)

    def op_wall(self, op: str) -> float:
        return next(s["end"] - s["start"] for s in self.spans
                    if s["op"] == op and s["layer"] is None)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _empty() -> dict:
    return {k: 0.0 for k in TASK_FIELDS}


def group_metrics(event_log_dir: str, aliases: dict) -> dict:
    """Sum task metrics per (op, layer) from an uncompressed event log.

    A stage shared by several jobs is charged to the first job that
    submitted it; a streaming query's jobs carry its run id as job group,
    which ``aliases`` maps to an (op, layer)."""
    logs = _event_log_files(event_log_dir)
    stage_owner: dict[int, tuple[str, str]] = {}
    out: dict[tuple[str, str], dict] = defaultdict(_empty)
    for line in _lines(logs):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = _owner(gid, aliases)
            if key is None:
                continue
            out[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_owner.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_owner.get(ev["Stage ID"])
            if key is not None:
                _add_task(out[key], ev)
    return dict(out)


def _event_log_files(event_log_dir: str) -> list[str]:
    """The event files of the one finished application log: a single file
    (v1) or the ``events_<n>_*`` parts of an ``eventlog_v2_*`` directory."""
    apps = glob.glob(os.path.join(event_log_dir, "*"))
    if len(apps) != 1 or apps[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log, found {apps}")
    if os.path.isfile(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def _owner(gid, aliases):
    if gid is None:
        return None
    if gid in aliases:
        return aliases[gid]
    parts = gid.split("|")
    if len(parts) == 3 and parts[0] == GROUP_PREFIX:
        return parts[1], parts[2]
    return None


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason")
    if info.get("Failed") or (reason is not None and reason != "Success"):
        acc["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    for a in info.get("Accumulables") or []:
        if a.get("Name") == PYTHON_TIME_METRIC:
            acc["python_s"] += float(a.get("Update") or 0) / 1e3
