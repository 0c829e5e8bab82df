"""Outside-in instrumentation for the traced run.

Nothing here edits the program. The traced run

* records spans (name, layer, start, end, parent) around every verb,
  query and layer call the benchmark makes or that a verb makes through
  a module attribute (``Tracer``, ``patch``);
* counts driver -> JVM gateway round trips (``Py4jCounter``);
* swaps the loaders and executors that ``runner.run_tasks`` reads from
  its registries for wrappers that spool per-task stage spans to local
  disk (``TracedLoaderFactory``, ``TracedExecutor``);
* parses the Spark event log per job group (``parse_event_log``).

The untraced run installs none of these; it uses ``ProcSampler`` only
for the CPU time of each pass (two reads of ``/proc`` a pass).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from unittest import mock


class Tracer:
    """In-memory span recorder; spans nest by call order."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self, root: int) -> tuple[dict[str, float], float]:
        """(self time per layer under ``root``, part of ``root`` that no
        child span covers)."""
        out: dict[str, float] = {}

        def busy(kids: list[int]) -> float:
            return sum(self.spans[j]["end"] - self.spans[j]["start"] for j in kids)

        def walk(i: int) -> None:
            s = self.spans[i]
            kids = [j for j, c in enumerate(self.spans) if c["parent"] == i]
            if i != root:
                out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - busy(kids)
            for j in kids:
                walk(j)

        walk(root)
        r = self.spans[root]
        top = [j for j, c in enumerate(self.spans) if c["parent"] == root]
        return out, (r["end"] - r["start"]) - busy(top)


def patch(obj, attr: str, tracer: Tracer, name: str, layer: str):
    """Context manager: ``obj.attr`` wrapped in a span for the block."""
    orig = getattr(obj, attr)

    def wrapped(*a, **k):
        with tracer.span(name, layer):
            return orig(*a, **k)

    return mock.patch.object(obj, attr, wrapped)


class Py4jCounter:
    """Counts and times every driver -> JVM gateway round trip."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self.paused = False

    @contextmanager
    def pause(self):
        """Leave the benchmark's own round trips (job labels) uncounted."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    @contextmanager
    def installed(self):
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        counter = self

        def send_command(client, *a, **k):
            t0 = time.perf_counter()
            if counter.paused:
                return orig(client, *a, **k)
            try:
                return orig(client, *a, **k)
            finally:
                counter.calls += 1
                counter.seconds += time.perf_counter() - t0

        GatewayClient.send_command = send_command
        try:
            yield self
        finally:
            GatewayClient.send_command = orig


# ---------------------------------------------------------------------------
# executor-side stage spans (run inside the Python workers)
# ---------------------------------------------------------------------------


def _spool(spool_dir: str, stage: str, task_hash: str, t0: float, t1: float, nbytes: int) -> None:
    from pyspark import TaskContext

    tc = TaskContext.get()
    rec = {
        "stage": stage, "task": task_hash, "start": t0, "end": t1, "bytes": nbytes,
        "part": tc.partitionId() if tc else -1, "stage_id": tc.stageId() if tc else -1,
    }
    with open(os.path.join(spool_dir, f"{os.getpid()}.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


class _TracedLoader:
    def __init__(self, inner, spool_dir: str):
        self.inner, self.spool_dir = inner, spool_dir

    def download(self, url: str, dest_dir: str) -> int:
        t0 = time.time()
        n = self.inner.download(url, dest_dir)
        # dest_dir is <workdir>/<task_hash>/input
        _spool(self.spool_dir, "download", Path(dest_dir).parent.name, t0, time.time(), n)
        return n

    def upload(self, src_dir: str, url: str) -> int:
        t0 = time.time()
        n = self.inner.upload(src_dir, url)
        src = Path(src_dir)
        if src.name == "metadata":  # <workdir>/<task_hash>/internal/metadata
            _spool(self.spool_dir, "metadata", src.parent.parent.name, t0, time.time(), n)
        else:  # <workdir>/<task_hash>/output
            _spool(self.spool_dir, "upload", src.parent.name, t0, time.time(), n)
        return n

    def __getattr__(self, name):
        return getattr(self.inner, name)


class TracedLoaderFactory:
    """Drop-in for a ``runner.DEFAULT_LOADERS`` value."""

    def __init__(self, factory, spool_dir: str):
        self.factory, self.spool_dir = factory, spool_dir

    def __call__(self):
        return _TracedLoader(self.factory(), self.spool_dir)


class TracedExecutor:
    """Drop-in for a ``runner.DEFAULT_EXECUTORS`` value."""

    def __init__(self, fn, spool_dir: str):
        self.fn, self.spool_dir = fn, spool_dir

    def __call__(self, task: dict, workspace: dict):
        t0 = time.time()
        out = self.fn(task, workspace)
        _spool(self.spool_dir, "execute", task["task_hash"], t0, time.time(), 0)
        return out


@contextmanager
def runner_wrappers(spool_dir: str):
    """Wrap every registered loader and executor for the block."""
    from chyme_spark import runner

    loaders, executors = dict(runner.DEFAULT_LOADERS), dict(runner.DEFAULT_EXECUTORS)
    runner.DEFAULT_LOADERS.update({k: TracedLoaderFactory(v, spool_dir) for k, v in loaders.items()})
    runner.DEFAULT_EXECUTORS.update({k: TracedExecutor(v, spool_dir) for k, v in executors.items()})
    try:
        yield
    finally:
        runner.DEFAULT_LOADERS.update(loaders)
        runner.DEFAULT_EXECUTORS.update(executors)


def drain_spool(spool_dir: str) -> list[dict]:
    recs = []
    for path in glob.glob(os.path.join(spool_dir, "*.jsonl")):
        with open(path) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
        os.remove(path)
    return recs


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, int(round(q * (len(v) - 1))))]


def runner_metrics(recs: list[dict]) -> dict[str, float]:
    """Per-pass runner layer figures from the spooled stage spans."""
    out = {f"runner.{s}_s": 0.0 for s in ("download", "execute", "metadata", "upload")}
    if not recs:
        return {**out, "runner.run_tasks_s": 0.0, "runner.task_p50_s": 0.0,
                "runner.task_p99_s": 0.0, "runner.partition_skew": 0.0,
                "runner.bytes_in": 0, "runner.bytes_out": 0}
    tasks: dict[str, list[float]] = {}
    parts: dict[tuple, float] = {}
    for r in recs:
        out[f"runner.{r['stage']}_s"] += r["end"] - r["start"]
        span = tasks.setdefault(r["task"], [r["start"], r["end"]])
        span[0], span[1] = min(span[0], r["start"]), max(span[1], r["end"])
    task_s = {t: b - a for t, (a, b) in tasks.items()}
    by_task_part = {r["task"]: (r["stage_id"], r["part"]) for r in recs}
    for t, s in task_s.items():
        parts[by_task_part[t]] = parts.get(by_task_part[t], 0.0) + s
    busy = list(parts.values())
    out.update({
        "runner.run_tasks_s": max(r["end"] for r in recs) - min(r["start"] for r in recs),
        "runner.task_p50_s": _pct(list(task_s.values()), 0.50),
        "runner.task_p99_s": _pct(list(task_s.values()), 0.99),
        "runner.partition_skew": max(busy) / statistics.median(busy),
        "runner.bytes_in": sum(r["bytes"] for r in recs if r["stage"] == "download"),
        "runner.bytes_out": sum(r["bytes"] for r in recs if r["stage"] == "upload"),
    })
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, input/shuffle-write/output MB, task skew
    (max / median task duration)."""
    agg: dict[str, dict] = {}
    # Spark 4 writes rolling logs, one directory per application:
    # <dir>/eventlog_v2_<app>/events_<n>_<app>; stage ids restart per app
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        stage_group: dict[int, str] = {}
        paths = glob.glob(os.path.join(app, "events_*"))
        for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if not group:
                            continue
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                        a = agg.setdefault(group, {"jobs": 0, "in": 0, "shw": 0, "out": 0, "dur": []})
                        a["jobs"] += 1
                    elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                        a = agg[stage_group[ev["Stage ID"]]]
                        m = ev.get("Task Metrics") or {}
                        a["in"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                        a["shw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                        a["out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                        info = ev.get("Task Info") or {}
                        a["dur"].append(max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)))
    mb = 1024 * 1024
    return {
        g: {
            "jobs": a["jobs"],
            "input_mb": a["in"] / mb,
            "shuffle_write_mb": a["shw"] / mb,
            "output_mb": a["out"] / mb,
            "task_skew": (max(a["dur"]) / max(1.0, statistics.median(a["dur"]))) if a["dur"] else 0.0,
        }
        for g, a in agg.items()
    }


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


class ProcSampler:
    """Reads this process and its JVM / Python descendants from /proc:
    CPU time on demand, and the peak of their summed RSS while armed
    (sampled every ``INTERVAL_S`` on a background thread).

    CPU time leaves out the JVM's JIT compiler threads. Their work is a
    warm-up transient that falls to zero in a long-running process, but
    over the few passes a run can afford it is most of a pass's CPU time
    and varies from run to run with compile timing. The JVM
    must run with ``-XX:-UseDynamicNumberOfCompilerThreads`` so that
    compiler threads live as long as it does and their time can be
    subtracted exactly."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    INTERVAL_S = 0.1

    def __init__(self):
        self.armed = False
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def _tree(self) -> list[tuple[int, str, list[str]]]:
        """(pid, command name, /proc/<pid>/stat fields after the command
        name), one per process of the tree."""
        me = os.getpid()
        parent, comm, fields = {}, {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            pid = int(d)
            comm[pid] = stat[stat.index("(") + 1: stat.rindex(")")]
            fields[pid] = stat[stat.rindex(")") + 2:].split()
            parent[pid] = int(fields[pid][1])
        out = []
        for pid in fields:
            p, hops = pid, 0
            while p not in (me, 0, 1) and hops < 32:
                p, hops = parent.get(p, 0), hops + 1
            if p == me and (comm[pid] == "java" or comm[pid].startswith("python")):
                out.append((pid, comm[pid], fields[pid]))
        return out

    def cpu_seconds(self) -> float:
        """User + system time of the tree, reaped children included, JIT
        compiler threads left out."""
        ticks = 0
        for pid, comm, f in self._tree():
            ticks += sum(int(x) for x in f[11:15])
            if comm == "java":
                ticks -= self._jit_ticks(pid)
        return ticks / os.sysconf("SC_CLK_TCK")

    def _jit_ticks(self, pid: int) -> int:
        ticks = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1: stat.rindex(")")] in self.JIT_THREADS:
                ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
        return ticks

    def rss_mb(self) -> float:
        pages = sum(int(f[21]) for _, _, f in self._tree())
        return pages * os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            if self.armed:
                self.peak_mb = max(self.peak_mb, self.rss_mb())
