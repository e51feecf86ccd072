#!/usr/bin/env python3
"""translink benchmark: batch dedup and incremental drops, end to end and
per layer. Workloads, metrics and the layer -> metric map are described in
``perfbench/README.md``.

    python3 perfbench/run.py --workload events_dedup --seed 1 --seconds 10 --trace 0

Run from the root of a translink checkout. ``--trace 0`` measures the
end-to-end metrics with tracing off; ``--trace 1`` runs the traced
operations and reports the per-layer metrics. The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Without an importable engine in the checkout the script exits with code 2
and prints no result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import ExitStack, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver heap for every workload; stamped with each result
DRIVER_MEMORY = "4g"
#: the input-generation part of set-up is repeated and its median reported
SETUP_REPEATS = 3
#: lowest pairwise F1 an operation may reach before it counts as failed
F1_FLOOR = 0.95
#: cluster checksum each recorded (workload, seed) must reproduce, at full
#: scale; written by ``perfbench/record_checksums.py``
CHECKSUMS_PATH = os.path.join(HERE, "checksums.json")

SCALES = {
    "events_dedup": {
        "full": {"users": 120},
        "smoke": {"users": 15},
    },
    "stream_drops": {
        "full": {"base": 300, "drops": 2, "drop_rows": 100},
        "smoke": {"base": 160, "drops": 2, "drop_rows": 60},
    },
}

END_TO_END_UNITS = {
    "wall_s": "s", "rows_per_s": "1/s", "drop_latency_s.p50": "s",
    "setup_s": "s", "pair_f1": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure operations until this many seconds passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs: breakage shows fast")
    return p.parse_args(argv)


def engine_available() -> bool:
    """True when ``translink`` imports from this checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import translink
    except ImportError:
        return False
    return os.path.dirname(os.path.abspath(translink.__file__)) == \
        os.path.join(ROOT, "translink")


# --------------------------------------------------------------------------
# process, memory and host facts
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak summed memory of this process's descendants: the driver JVM and
    its Python workers. Each process counts its proportional set size
    (PSS), so pages a forked Python worker shares with its daemon are not
    counted twice."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _sample() -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(line.split()[1]) for line in fh
                                  if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def host_load() -> dict:
    """1-minute load average and the host's cumulative steal time: load
    from outside the benchmark moves its walls."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal_ticks = int(cpu[8]) if len(cpu) > 8 else 0
    return {"load1": load1, "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK")}


def host_stamp(spark, nproc: int, seed: int, load0: dict) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    jvm = spark.sparkContext._jvm
    load1 = host_load()
    return {
        "nproc": nproc,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "jvm_max_heap_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20,
        "seed": seed,
        # taken at the start and at the end of the run
        "loadavg_1m": [load0["load1"], load1["load1"]],
        "steal_s": round(load1["steal_s"] - load0["steal_s"], 2),
    }


def start_session(work: str, trace: bool, nproc: int, cfg):
    """A local SparkSession whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # appended to the engine's driver JVM flags; no perf-data file in /tmp
    os.environ["TRANSLINK_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    from translink import get_spark

    return get_spark(master=f"local[{nproc}]", app_name="perfbench",
                     shuffle_partitions=cfg.shuffle_partitions, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (it exits when its stdin closes),
    and wait for it and every worker it started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def recorded_checksum(workload: str, seed: int) -> str | None:
    with open(CHECKSUMS_PATH) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def labels_checksum(labels: dict[str, str]) -> str:
    """Order-free digest of the cluster assignment: sha256 over the sorted
    ``conv_id<TAB>cluster_id`` lines."""
    h = hashlib.sha256()
    for conv_id in sorted(labels):
        h.update(f"{conv_id}\t{labels[conv_id]}\n".encode())
    return h.hexdigest()[:16]


def collect_labels(clusters) -> dict[str, str]:
    return {r["conv_id"]: r["cluster_id"]
            for r in clusters.select("conv_id", "cluster_id").collect()}


# --------------------------------------------------------------------------
# the benchmark run
# --------------------------------------------------------------------------


class Run:
    """State of one benchmark run: session, inputs, checks and spans."""

    def __init__(self, args, work: str):
        from translink import LinkConfig

        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        # the engine's default config (the CLI's ``standard`` profile has the
        # same 32 shuffle partitions)
        self.cfg = LinkConfig()
        self.scale = SCALES[args.workload]["smoke" if args.smoke else "full"]
        self.expected = None if args.smoke else \
            recorded_checksum(args.workload, args.seed)
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.checksums: list[str] = []
        self.notes: list[str] = []
        self.f1 = None
        self.counter_mismatches = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.correct = False
        self.notes.append("CHECK FAILED: " + msg)

    def check_labels(self, what: str, labels: dict, truth: dict) -> None:
        """Outputs of every operation: the right conversations, pairwise F1
        at or above the floor, and the same assignment as every earlier
        operation of this run and as the checksum recorded for this seed."""
        from perfbench.workloads import pair_prf

        if set(labels) != set(truth):
            self.fail(f"{what}: clustered {len(labels)} conversations, "
                      f"input has {len(truth)}")
        precision, recall, self.f1 = pair_prf(labels, truth)
        if self.f1 < F1_FLOOR:
            self.fail(f"{what}: pair_f1 {self.f1:.4f} < {F1_FLOOR} (precision "
                      f"{precision:.4f}, recall {recall:.4f})")
        digest = labels_checksum(labels)
        if self.checksums and digest != self.checksums[0]:
            self.fail(f"{what}: cluster checksum {digest} != {self.checksums[0]}")
        if self.expected is not None and digest != self.expected:
            self.fail(f"{what}: cluster checksum {digest} != {self.expected} "
                      f"recorded for seed {self.args.seed}")
        self.checksums.append(digest)

    # -- batch operation shared by both workloads -------------------------

    def batch_op(self, op: str, input_path: str, traced: bool):
        """``run_pipeline`` with a fresh workdir, then ``write_report``: the
        CLI's path. Returns (wall seconds, clusters DataFrame, workdir)."""
        from translink import run_pipeline
        from translink.report import write_report

        spark = self.spark
        workdir = self.path("runs", op)
        with ExitStack() as stack:
            if traced:
                stack.enter_context(self.tracer.op(op))
                stack.enter_context(self.tracer.pipeline_stages(op))
            t0 = time.perf_counter()
            res = run_pipeline(spark, spark.read.parquet(input_path), self.cfg,
                               workdir=workdir)
            report = os.path.join(workdir, "report")
            if traced:
                with self.tracer.span(op, "report", "write_report"):
                    write_report(res["members"], report)
            else:
                write_report(res["members"], report)
            wall = time.perf_counter() - t0
        return wall, res["clusters"], workdir

    def main(self, workload=None) -> dict:
        """Start the session, run ``workload`` (default: the one named on
        the command line), stop every process, then read the event log."""
        from perfbench import tracing

        load0 = host_load()
        t0 = time.perf_counter()
        self.spark = start_session(self.work, bool(self.args.trace),
                                   self.nproc, self.cfg)
        session_s = time.perf_counter() - t0
        sampler = None
        if self.args.trace:
            self.tracer = tracing.Tracer(self.spark.sparkContext)
            sampler = RssSampler()
            sampler.start()
        workload = workload or {"events_dedup": self.events_dedup,
                                "stream_drops": self.stream_drops,
                                }[self.args.workload]
        try:
            out = workload()
            self.stamp = host_stamp(self.spark, self.nproc, self.args.seed,
                                    load0)
        finally:
            if sampler is not None:
                sampler.stop()
            stop_session(self.spark)
        out["setup_s"] = session_s + out.pop("setup_rest_s")
        if self.args.trace:
            out["peak_rss_mb"] = sampler.peak_bytes / 2**20
            # kept after the run's scratch directory is deleted
            self.spans_path = os.path.join(
                os.path.dirname(self.work),
                f"spans-{self.args.workload}-{self.args.seed}.json")
            self.tracer.dump(self.spans_path)
            out["groups"] = tracing.group_metrics(self.path("eventlog"),
                                                  self.tracer.aliases)
        return out

    # -- events_dedup ------------------------------------------------------

    def events_input(self, repeats: int):
        """Write the seeded events table and derive transcripts from it,
        ``repeats`` times. Returns (path, turn rows, truth, bytes,
        per-repeat seconds)."""
        from perfbench import workloads as W

        spark, users = self.spark, self.scale["users"]
        events_dir = self.path("events")
        os.makedirs(events_dir)
        input_path = self.path("transcripts.parquet")
        input_s = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            W.write_parquet(W.make_events(users, self.args.seed),
                            os.path.join(events_dir, "events.parquet"))
            W.events_transcripts(spark, events_dir, input_path)
            input_s.append(time.perf_counter() - t0)
        rows = spark.read.parquet(input_path).count()
        truth = W.events_truth(
            r["conv_id"] for r in
            spark.read.parquet(input_path).select("conv_id").distinct().collect()
        )
        return input_path, rows, truth, du(input_path), input_s

    def events_dedup(self) -> dict:
        input_path, rows, truth, input_bytes, input_s = self.events_input(
            SETUP_REPEATS)
        self.notes.append(f"input: {rows} turn rows, {len(truth)} conversations, "
                          f"{input_bytes} parquet bytes")

        def one(op: str, traced: bool) -> float:
            self.attempted += 1
            wall, clusters, _ = self.batch_op(op, input_path, traced)
            self.check_labels(op, collect_labels(clusters), truth)
            return wall

        # warm-up (set-up): the same operation on the same input pays the
        # per-process cold costs (class loading, code generation, JIT,
        # Python worker start), and every measured operation must repeat
        # its cluster assignment
        t0 = time.perf_counter()
        one("warmup", False)
        warmup_s = time.perf_counter() - t0
        self.notes.append(f"setup: input s {[round(x, 3) for x in input_s]}, "
                          f"warm-up operation s {warmup_s:.3f}")

        walls, traced_walls = [], []
        if self.args.trace:
            # traced, untraced, traced: a linear drift of the op walls
            # cancels out of the tracing overhead
            traced_walls.append(one("traced0", True))
            walls.append(one("untraced", False))
            traced_walls.append(one("traced1", True))
        else:
            t_end = time.perf_counter() + self.args.seconds
            while not walls or time.perf_counter() < t_end:
                walls.append(one(f"op{len(walls)}", False))
        self.notes.append("op walls s: " + ", ".join(f"{w:.3f}" for w in walls))
        wall = statistics.median(walls)
        return {
            "setup_rest_s": statistics.median(input_s) + warmup_s,
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "drop_latency_s.p50": wall,
            "pair_f1": self.f1,
            "input_bytes": input_bytes,
            "traced_ops": [f"traced{i}" for i in range(len(traced_walls))],
            "traced_walls": traced_walls,
            "untraced_wall": wall,
        }

    # -- stream_drops ------------------------------------------------------

    def stream_drops(self) -> dict:
        from perfbench import workloads as W

        seed, sc = self.args.seed, self.scale
        staging, landing = self.path("staging"), self.path("landing")
        store, ckpt = self.path("store"), self.path("ckpt")
        snapshot = self.path("snapshot")
        for d in (staging, landing, snapshot):
            os.makedirs(d)

        input_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            corpus, truth = W.fixture_corpus(sc["base"], seed)
            base_ids, drops = W.split_drops(
                corpus["conv_id"].value_counts().to_dict(), sc["drops"],
                sc["drop_rows"], seed)
            W.write_parquet(corpus[corpus["conv_id"].isin(base_ids)],
                            os.path.join(staging, "base.parquet"))
            drop_rows = 0
            for i, ids in enumerate(drops):
                part = corpus[corpus["conv_id"].isin(ids)]
                drop_rows += len(part)
                W.write_parquet(part, os.path.join(staging, f"drop{i}.parquet"))
            input_s.append(time.perf_counter() - t0)
        self.notes.append(
            f"input: base {len(base_ids)} conversations, "
            f"{len(drops)} drops of {[len(d) for d in drops]} conversations, "
            f"{drop_rows} drop turn rows per round")

        t0 = time.perf_counter()
        self._land("base.parquet")
        self._ingest(store, ckpt, landing, None)
        base_clusters = self._base_clusters(landing)
        for d in ("store", "ckpt"):
            shutil.copytree(self.path(d), os.path.join(snapshot, d))
        base_s = time.perf_counter() - t0
        # warm-up (set-up): the first drop through ingest, store re-read and
        # recluster pays the drop path's cold costs (plans, code generation,
        # first use of its operators); then back to the snapshot. Every
        # measured round must repeat its labels after that drop.
        t0 = time.perf_counter()
        warm_lats, warm_labels = self._round("warmup", drops[:1],
                                             base_clusters, False)
        self._reset(store, ckpt, landing, snapshot, 1)
        warm_digest = labels_checksum(warm_labels[0])
        warmup_s = time.perf_counter() - t0
        self.notes.append(f"setup: input s {[round(x, 3) for x in input_s]}, "
                          f"base ingest + clustering s {base_s:.3f}, "
                          f"warm-up drop s {warm_lats[0]:.3f}")

        rounds: list[list[float]] = []
        traced_rounds: list[list[float]] = []
        t_end = time.perf_counter() + self.args.seconds
        # traced run: traced, untraced, traced cancels a linear drift out of
        # the tracing overhead
        plan = (["traced0", "untraced", "traced1"] if self.args.trace
                else None)
        store_bytes = 0
        done = 0
        while True:
            name = plan[done] if plan else f"round{done}"
            traced = name.startswith("traced")
            if done:
                self._reset(store, ckpt, landing, snapshot, len(drops))
            lats, labels = self._round(name, drops, base_clusters, traced)
            store_bytes = du(store)
            (traced_rounds if traced else rounds).append(lats)
            done += 1
            if labels_checksum(labels[0]) != warm_digest:
                self.fail(f"{name}: labels after the first drop differ from "
                          "the warm-up drop's")
            labels = labels[-1]
            self.check_labels(name, labels, truth)
            if (done == len(plan)) if plan else time.perf_counter() >= t_end:
                break
        # after the measured rounds, so that it takes none of their time
        self._check_equivalence(landing, labels)
        all_lats = [x for r in rounds for x in r]
        self.notes.append("drop latencies s: " +
                          ", ".join(f"{x:.3f}" for x in all_lats))
        wall = statistics.median(sum(r) for r in rounds)
        return {
            "setup_rest_s": statistics.median(input_s) + base_s + warmup_s,
            "wall_s": wall,
            "rows_per_s": drop_rows / wall,
            "drop_latency_s.p50": statistics.median(all_lats),
            "pair_f1": self.f1,
            "traced_ops": [f"{n}d{i}" for n in ("traced0", "traced1")
                           if self.args.trace for i in range(len(drops))],
            "traced_walls": [sum(r) for r in traced_rounds],
            "untraced_wall": wall,
            "store_bytes": store_bytes,
            "input_bytes": du(landing),
        }

    def _land(self, name: str) -> None:
        """Land a staged file: copy it under a hidden name Spark ignores,
        then rename it into the landing directory in one step."""
        hidden = self.path("landing", "." + name + ".tmp")
        shutil.copyfile(self.path("staging", name), hidden)
        os.rename(hidden, self.path("landing", name))

    def _ingest(self, store: str, ckpt: str, landing: str, op: str | None):
        from translink.streaming import incremental_signatures

        q = incremental_signatures(self.spark, landing, store, ckpt, self.cfg,
                                   available_now=True)
        if op is not None:
            self.tracer.aliases[str(q.runId)] = (op, "ingest")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingest failed: {q.exception()}")

    def _base_clusters(self, landing: str):
        """Base-corpus labels from a one-shot batch run (set-up)."""
        from translink import run_pipeline

        base = self.spark.read.parquet(os.path.join(landing, "base.parquet"))
        return run_pipeline(self.spark, base, self.cfg)["clusters"]

    def _reset(self, store, ckpt, landing, snapshot, n_drops) -> None:
        """Back to the state right after the base ingest."""
        for d in (store, ckpt):
            shutil.rmtree(d)
            shutil.copytree(os.path.join(snapshot, os.path.basename(d)), d)
        for i in range(n_drops):
            os.remove(os.path.join(landing, f"drop{i}.parquet"))

    def _round(self, name: str, drops, base_clusters, traced: bool):
        """Land the drops one at a time; each drop is ingested, the store is
        re-read and the affected components re-clustered before the next
        drop lands (closed loop, one client). Returns the drop latencies
        and the labels after each drop, collected outside the timing."""
        from translink.streaming.incremental import (
            read_signature_store, recluster_incremental,
        )

        spark, cfg = self.spark, self.cfg
        store, ckpt, landing = self.path("store"), self.path("ckpt"), \
            self.path("landing")
        prev = base_clusters
        lats, labels = [], []
        for i, ids in enumerate(drops):
            op = f"{name}d{i}"
            self.attempted += 1
            new_ids = spark.createDataFrame([(c,) for c in ids], "conv_id string")
            self._land(f"drop{i}.parquet")
            t0 = time.perf_counter()
            with ExitStack() as stack:
                span = (lambda layer: self.tracer.span(op, layer)) if traced \
                    else (lambda layer: nullcontext())
                if traced:
                    stack.enter_context(self.tracer.op(op))
                with span("ingest"):
                    self._ingest(store, ckpt, landing, op if traced else None)
                with span("store_read"):
                    signed = read_signature_store(spark, store, cfg) \
                        .localCheckpoint(eager=True)
                with span("recluster"):
                    prev = recluster_incremental(spark, signed, prev, new_ids,
                                                 cfg).localCheckpoint(eager=True)
            lats.append(time.perf_counter() - t0)
            labels.append(collect_labels(prev))
        return lats, labels

    def _check_equivalence(self, landing: str, labels: dict) -> None:
        """``recluster_incremental``'s contract: after the drops, labels equal
        a one-shot ``run_pipeline`` over the merged corpus."""
        wall, clusters, workdir = self.batch_op(
            "oneshot", landing, traced=self.tracer is not None)
        oneshot = collect_labels(clusters)
        self.oneshot = {"wall": wall, "workdir_bytes": du(workdir)}
        if oneshot != labels:
            diff = sum(1 for c in set(oneshot) | set(labels)
                       if oneshot.get(c) != labels.get(c))
            self.fail(f"incremental labels differ from one-shot run_pipeline "
                      f"on {diff} conversations")

    # -- per-layer metrics (traced run) -------------------------------------

    def layer_metrics(self, groups: dict, out: dict) -> dict:
        from perfbench.tracing import (
            BATCH_LAYERS, STREAM_PHASES, TASK_FIELDS,
        )

        stream = self.args.workload == "stream_drops"
        batch_ops = ["oneshot"] if stream else out["traced_ops"]
        metrics: dict[str, tuple[float, str]] = {}
        per_op: dict[str, dict] = {}
        for op in batch_ops:
            walls = self.tracer.layer_walls(op)
            rows = self.manifest_rows(op)
            per_op[op] = {}
            for layer in BATCH_LAYERS:
                g = groups.get((op, layer), {})
                vals = {f: g.get(f, 0.0) for f in TASK_FIELDS}
                vals["wall_s"] = walls.get(layer, 0.0)
                vals["rows_out"] = rows.get(layer, 0)
                per_op[op][layer] = vals
        units = {**TASK_FIELDS, "wall_s": "s", "rows_out": "count"}
        for layer in BATCH_LAYERS:
            for f, unit in units.items():
                metrics[f"{layer}.{f}"] = (
                    statistics.median(per_op[op][layer][f] for op in batch_ops),
                    unit)
        self._counter_check(per_op, ("rows_out", "shuffle_records", "jobs"))

        first = batch_ops[0]
        edges = self._edges(first)
        cand = per_op[first]["candidates"]["rows_out"]
        metrics["scoring.edges"] = (edges, "count")
        metrics["scoring.edge_yield"] = (edges / cand if cand else 0.0, "ratio")
        workdir_bytes = du(self.path("runs", first))
        metrics["catalog.bytes_written"] = (workdir_bytes, "B")
        metrics["catalog.bytes_per_input_byte"] = (
            workdir_bytes / out["input_bytes"], "ratio")
        self.notes.append(
            f"scoring.edge_yield = {edges} edges / {cand} candidate pairs "
            f"(candidates.rows_out of op {first})")

        stream_vals = {k: 0.0 for k in (
            "ingest_s", "store_read_s", "recluster_s", "recluster_cpu_s",
            "recluster_shuffle_bytes", "store_bytes")}
        if stream:
            drops = out["traced_ops"]
            per_drop = {
                op: {ph: {**{f: groups.get((op, ph), {}).get(f, 0.0)
                             for f in TASK_FIELDS},
                          "wall_s": self.tracer.layer_walls(op).get(ph, 0.0)}
                     for ph in STREAM_PHASES}
                for op in drops
            }

            def med(phase: str, field: str) -> float:
                return statistics.median(per_drop[op][phase][field]
                                         for op in drops)

            stream_vals.update({
                "ingest_s": med("ingest", "wall_s"),
                "store_read_s": med("store_read", "wall_s"),
                "recluster_s": med("recluster", "wall_s"),
                "recluster_cpu_s": med("recluster", "cpu_s"),
                "recluster_shuffle_bytes": med("recluster",
                                               "shuffle_write_bytes"),
                "store_bytes": out["store_bytes"],
            })
            # the two traced rounds, drop by drop
            n = len(drops) // 2
            self._counter_check(
                {f"traced{r}": {f"d{i}.{ph}": per_drop[drops[r * n + i]][ph]
                                for i in range(n) for ph in STREAM_PHASES}
                 for r in range(2)},
                ("jobs", "shuffle_records"))
        else:
            self.notes.append("streaming.* do not apply to events_dedup (0)")
        for k, v in stream_vals.items():
            metrics[f"streaming.{k}"] = (v, "B" if "bytes" in k else "s")

        traced_walls = out["traced_walls"]
        metrics["trace.overhead_s"] = (
            statistics.median(traced_walls) - out["untraced_wall"], "s")
        coverage = []
        for op in batch_ops:
            covered = sum(self.tracer.layer_walls(op).values())
            coverage.append(covered / self.tracer.op_wall(op))
        metrics["trace.span_coverage"] = (statistics.median(coverage), "ratio")
        metrics["trace.counter_mismatches"] = (self.counter_mismatches, "count")
        metrics["peak_rss_mb"] = (out["peak_rss_mb"], "MB")
        return metrics

    def _counter_check(self, per_op: dict, fields) -> None:
        """Deterministic counters must repeat exactly between two traced
        operations of one seed; any difference is reported."""
        ops = sorted(per_op)
        if len(ops) < 2:
            self.notes.append("counter repeat check: one traced op, skipped")
            return
        a, b = per_op[ops[0]], per_op[ops[1]]
        diffs = [f"{k}.{f}: {a[k][f]} vs {b[k][f]}"
                 for k in a for f in fields if a[k][f] != b[k][f]]
        self.counter_mismatches += len(diffs)
        self.notes.append(
            f"counter repeat check {ops[0]} vs {ops[1]}: "
            + ("identical" if not diffs else "DIFFER " + "; ".join(diffs)))

    def manifest_rows(self, op: str) -> dict[str, int]:
        """Rows each stage wrote, from the catalog manifest of ``op``."""
        from perfbench.tracing import STAGE_LAYER

        with open(self.path("runs", op, "_manifest.json")) as fh:
            manifest = json.load(fh)
        return {STAGE_LAYER[s]: m["rows"] for s, m in manifest.items()
                if s in STAGE_LAYER}

    def _edges(self, op: str) -> int:
        """Scored pairs at or above the edge threshold (read after the run,
        outside every span)."""
        import pyarrow.parquet as pq

        scored = pq.read_table(self.path("runs", op, "scored"),
                               columns=["score"]).column("score")
        return sum(1 for s in scored.to_pylist()
                   if s is not None and s >= self.cfg.threshold)


def new_work_dir(name: str) -> str:
    """A fresh scratch directory inside the checkout (git-ignored)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    os.makedirs(work)
    return work


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_available():
        print("perfbench: translink is not importable from " + ROOT,
              file=sys.stderr)
        return 2
    work = new_work_dir(f"{args.workload}-{args.seed}")
    try:
        run = Run(args, work)
        out = run.main()
        if args.trace:
            layers = run.layer_metrics(out["groups"], out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench stamp " + json.dumps(run.stamp, sort_keys=True))
    for note in run.notes:
        print(f"perfbench {args.workload}: {note}")
    print(f"perfbench {args.workload}: cluster checksums "
          + ", ".join(sorted(set(run.checksums)))
          + (f" (recorded for seed {args.seed}: {run.expected})"
             if run.expected else " (none recorded for this seed)"))
    if args.trace:
        print(f"perfbench {args.workload}: spans written to {run.spans_path}")
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": out[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    for k, m in metrics.items():
        print(f"  {k:<40} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
