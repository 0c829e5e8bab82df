"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_cold --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one workload:

1. generate the seeded inputs (untimed);
2. bring the session up once (this launches the JVM; untimed), then
   restart it at least ``SETUP_REPEATS`` times and until
   ``SETUP_SECONDS`` of restarts were measured (at most
   ``SETUP_MAX_REPEATS`` times) -- session bring-up plus
   the program's own work that builds the starting tables -- and keep
   the median restart as ``setup_s``;
3. an untimed warm-up: one pass for ``etl_cold``, the correctness
   collect of every query for ``query_mix``;
4. timed passes, each reset to the starting state first and checked
   after, until ``--seconds`` have been measured and at least the
   workload's ``min_passes`` passes made. The pass count does not shrink on a slow
   host: fewer passes would time more of the JVM's compile tail there.
   No pass starts after ``DEADLINE_S``, so the run ends within 180 s.

With ``--trace 1`` the passes run in untraced / traced / traced /
untraced blocks; the traced ones record spans, gateway round trips, per-task runner
stages and the Spark event log, and the run reports the per-layer
metrics plus the tracing overhead. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Exit code 0 only if every
operation and every correctness check passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
from contextlib import ExitStack, contextmanager, nullcontext
from pathlib import Path
from unittest import mock

ROOT = Path(__file__).resolve().parent.parent
T0 = time.perf_counter()
SETUP_REPEATS = 3
SETUP_SECONDS = 1.0
SETUP_MAX_REPEATS = 8
DEADLINE_S = 140.0
SPARK_VERBS = ("ingest", "tasker", "worker", "query")


def cpu_calibration() -> float:
    """Single-thread host-speed constant (the project's bench.py
    definition: median of three 2M-step integer loops)."""

    def one() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc + i * i) % 1_000_000_007
        return time.perf_counter() - t0

    return sorted(one() for _ in range(3))[1]


class Ctx:
    """What a workload pass sees: operation/check accounting, spans and
    job labels (no-ops when untraced), and the dead-session guard."""

    def __init__(self, spark, counter):
        from pyspark import SparkContext

        self.spark = spark
        self.sc = SparkContext._active_spark_context
        self.counter = counter
        self.tracer = None
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.dead = False
        self.pass_no = 0
        self.group = "untraced"

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def label(self, verb: str) -> None:
        if self.tracer:
            with self.counter.pause():
                self.spark.sparkContext.setJobGroup(f"{self.group}:{verb}", verb)

    def _alive(self) -> bool:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not self.sc:
            return False  # stopped, or silently rebuilt by a callee
        try:
            return not self.sc._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 — gateway gone
            return False

    def op(self, name: str, fn):
        """Run one operation; a failure counts, a dead session marks the
        rest of the pass failed (never rebuilt)."""
        from pyspark import SparkContext

        self.attempted += 1
        if self.dead:
            self.failed += 1
            self.failures.append(f"{name}: skipped, session dead")
            return None
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            if not self._alive():
                self.dead = True
            return None
        if SparkContext._active_spark_context is not self.sc:
            self.dead = True
            self.failed += 1
            self.failures.append(f"{name}: session replaced during the operation")
            return None
        return out

    def tasks(self, expected: int, ok: int) -> None:
        self.attempted += expected
        if ok < expected:
            self.failed += expected - ok
            self.failures.append(f"tasks: {ok} of {expected} completed")

    def check(self, name: str, fn) -> None:
        self.attempted += 1
        try:
            good = bool(fn())
        except Exception as e:  # noqa: BLE001
            good = False
            name = f"{name} ({type(e).__name__}: {str(e)[:200]})"
        if not good:
            self.failed += 1
            self.failures.append(f"check {name} failed")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a kill still runs the finally blocks: stop the JVM, remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "chyme_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print(f"error: run from a chyme_spark checkout ({ROOT} has no chyme_spark/ package "
              "or no BENCHMARK.json)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep every scratch file inside the checkout; workers inherit this env
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    try:
        return _run(args, spec, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: Path, nproc: int) -> int:
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    co_spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    check_oracle = importlib.util.module_from_spec(co_spec)
    co_spec.loader.exec_module(check_oracle)
    sys.modules["check_oracle"] = check_oracle

    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    wl = WORKLOADS[args.workload](work, args.seed)
    inputs = wl.generate()
    phases = {"generated": time.perf_counter() - T0}

    from chyme_spark.session import get_spark

    master = f"local[{nproc}]"
    extra_conf = {
        "spark.local.dir": os.environ["TMPDIR"],
        # fixed JIT compiler threads: cpu_s leaves their time out (trace.ProcSampler)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    event_dir = work / "eventlog"
    if traced:
        event_dir.mkdir()
        extra_conf.update({"spark.eventLog.enabled": "true",
                           "spark.eventLog.compress": "false",
                           "spark.eventLog.dir": f"file://{event_dir}"})
    sampler = tr.ProcSampler().start()
    spark = ctx = None
    setups, bringups = [], []
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=master, extra_conf=extra_conf)
        jvm_launch = time.perf_counter() - t0
        wl.prepare(spark)
        # the launch above is not a sample: setup_s is a restart on a live
        # JVM. A 0.15 s restart is sampled more often than a 1.5 s one, so
        # both medians rest on a similar stretch of time
        while len(setups) < SETUP_REPEATS or (
            sum(setups) < SETUP_SECONDS and len(setups) < SETUP_MAX_REPEATS
        ):
            spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=master, extra_conf=extra_conf)
            t1 = time.perf_counter()
            wl.prepare(spark)
            t2 = time.perf_counter()
            bringups.append(t1 - t0)
            setups.append(t2 - t0)

        facts = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "cpu_calibration_s": round(cpu_calibration(), 4),
            "jvm_launch_s": round(jvm_launch, 3),
            "inputs": inputs,
        }
        print("facts " + json.dumps(facts, sort_keys=True), flush=True)

        tracer = tr.Tracer()
        counter = tr.Py4jCounter()
        spool = work / "spool"
        spool.mkdir()
        ctx = Ctx(spark, counter)
        per_pass: list[dict] = []

        def one_pass(pass_no: int, with_trace: bool) -> None:
            wl.reset()
            ctx.pass_no = pass_no
            ctx.tracer = tracer if with_trace else None
            ctx.group = f"p{pass_no}"
            # RSS is a per-layer metric: the untraced run leaves /proc alone
            sampler.peak_mb, sampler.armed = 0.0, traced
            with ExitStack() as stack:
                if with_trace:
                    stack.enter_context(_layer_patches(tracer, spool, counter))
                    root = len(tracer.spans)
                    stack.enter_context(tracer.span("pass", "pass"))
                cpu0, st0 = sampler.cpu_seconds(), _steal()
                calls0, py4j0 = counter.calls, counter.seconds
                t0 = time.perf_counter()
                out = wl.run_pass(ctx)
                wall = time.perf_counter() - t0
                cpu1, st1 = sampler.cpu_seconds(), _steal()
            sampler.armed = False
            steal = (st1[0] - st0[0]) / max(1, st1[1] - st0[1])
            rss = f"peak rss {sampler.peak_mb:.0f} MB, " if traced else ""
            print(f"pass {pass_no}: wall {wall:.3f} s, cpu {cpu1 - cpu0:.2f} s, "
                  f"{rss}host steal {steal:.1%}"
                  f"{' (traced)' if with_trace else ''}", flush=True)
            if ctx.dead:
                wl.check(ctx, out)  # counts what the dead session left undone
                return  # the pass is not a timing sample
            if with_trace:
                spark.sparkContext.setJobGroup("untraced", "untraced")
            wl.check(ctx, out)
            counts = wl.pass_counts(out)
            rec = {"wall_s": wall, "cpu_s": cpu1 - cpu0, "rss_mb": sampler.peak_mb,
                   "steal": steal, "counts": counts, "layer": None}
            if with_trace:
                self_s, uncovered = tracer.self_times(root)
                rec["group"] = ctx.group
                rec["layer"] = {
                    "session.py4j_calls": counter.calls - calls0,
                    "session.py4j_s": counter.seconds - py4j0,
                    "trace.uncovered_s": uncovered,
                    **{f"self.{k}_s": v for k, v in self_s.items()},
                    **_span_metrics(tracer, root, counts),
                    **tr.runner_metrics(tr.drain_spool(str(spool))),
                }
            per_pass.append(rec)

        phases["set_up"] = time.perf_counter() - T0
        wl.warm_up(ctx)
        start = time.perf_counter()
        phases["warmed_up"] = start - T0
        # traced runs interleave untraced and traced passes in ABBA blocks,
        # so a drift across the run (the JIT still settling) cancels out of
        # trace.overhead_s
        pattern = (False, True, True, False) if traced else (False,)
        min_passes = len(pattern) if traced else wl.min_passes
        n = 0
        while not ctx.dead:
            n += 1
            one_pass(n, pattern[(n - 1) % len(pattern)])
            now = time.perf_counter()
            if now - T0 >= DEADLINE_S:
                break
            if n % len(pattern):
                continue
            if n >= min_passes and now - start >= args.seconds:
                break
        phases["measured"] = time.perf_counter() - T0
    finally:
        sampler.stop()
        if spark is not None and not (ctx is not None and ctx.dead):
            spark.stop()
        _stop_jvm()
    phases["stopped"] = time.perf_counter() - T0
    print("phases " + json.dumps({k: round(v, 2) for k, v in phases.items()}))
    untraced = [p for p in per_pass if p["layer"] is None]
    traced_passes = [p for p in per_pass if p["layer"] is not None]
    wall = _median([p["wall_s"] for p in untraced])
    print("run " + json.dumps({"timed_passes": len(per_pass), "setups": len(setups),
                               "host_steal": round(_median([p["steal"] for p in per_pass]), 4),
                               "wall_s": round(wall, 4)}))
    wall_traced = _median([p["wall_s"] for p in traced_passes])
    all_metrics = {
        "setup_s": _median(setups),
        "wall_s": wall,
        "cpu_s": _median([p["cpu_s"] for p in untraced]),
        "failure_ratio": ctx.failed / max(1, ctx.attempted),
    }
    if untraced and "tasks_ok" in untraced[0]["counts"]:
        all_metrics["resources_per_s"] = untraced[0]["counts"]["objects"] / wall
        all_metrics["tasks_per_s"] = _median(
            [p["counts"]["tasks_ok"] / p["wall_s"] for p in untraced])

    if traced:
        events = tr.parse_event_log(str(event_dir))
        layer = {"session.get_spark_s": _median(bringups),
                 "peak_rss_mb": _median([p["rss_mb"] for p in untraced])}
        for k in {k for p in traced_passes for k in p["layer"]}:
            layer[k] = _median([p["layer"].get(k, 0.0) for p in traced_passes])
        # a count of one pass, not a median: the pass with the fewest round trips
        layer["session.py4j_calls"] = min(
            (p["layer"]["session.py4j_calls"] for p in traced_passes), default=0)
        for verb in SPARK_VERBS:
            rows = [events.get(f"{p['group']}:{verb}") for p in traced_passes]
            for field in ("jobs", "input_mb", "shuffle_write_mb", "output_mb", "task_skew"):
                layer[f"spark.{verb}.{field}"] = _median([r[field] for r in rows if r])
        layer["trace.overhead_s"] = wall_traced - wall
        all_metrics.update(layer)
        out_path = ROOT / ".perfbench_work" / f"trace-{args.workload}-s{args.seed}.json"
        out_path.write_text(json.dumps({"facts": facts, "spans": tracer.spans,
                                        "passes": per_pass}, indent=1))
        print(f"trace spans -> {out_path}")

    for f in ctx.failures:
        print(f"FAILED {f}")
    if ctx.dead:
        print("session died: the remaining operations of the pass were marked failed; "
              "the session was not rebuilt")
    for k in sorted(all_metrics):
        print(f"{k} = {all_metrics[k]:.6g}")

    declared = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for m in declared:
        value = all_metrics.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = ctx.failed == 0 and not ctx.dead
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def _steal() -> tuple[int, int]:
    """(steal ticks, all ticks) since boot: a busy host shows as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _stop_jvm() -> None:
    """End the gateway JVM (and with it the Python workers) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


@contextmanager
def _layer_patches(tracer, spool: Path, counter):
    """Spans around the module calls the verbs make, plus the runner's
    registry wrappers and the gateway counter."""
    from chyme_spark import catalog, cli, runner
    from perfbench import trace as tr

    orig_list = catalog.list_files

    def list_files(spark, *a, **k):
        with tracer.span("catalog.list_files", "catalog") as rec:
            # the listing's row count, read off the createDataFrame call it ends with
            orig_cdf = spark.createDataFrame

            def cdf(data, *ca, **ck):
                rec["objects"] = len(data)
                return orig_cdf(data, *ca, **ck)

            spark.createDataFrame = cdf
            try:
                return orig_list(spark, *a, **k)
            finally:
                del spark.createDataFrame

    with ExitStack() as stack:
        stack.enter_context(mock.patch.object(catalog, "list_files", list_files))
        stack.enter_context(tr.patch(cli, "get_spark", tracer, "session.get_spark", "session"))
        stack.enter_context(tr.patch(runner, "run_tasks", tracer, "runner.run_tasks", "runner"))
        stack.enter_context(tr.runner_wrappers(str(spool)))
        stack.enter_context(counter.installed())
        yield


def _span_metrics(tracer, root: int, counts: dict) -> dict:
    """Per-pass layer figures read off the pass's spans."""

    def under(i):
        j = tracer.spans[i]["parent"]
        while j is not None and j != root:
            j = tracer.spans[j]["parent"]
        return j == root

    spans = [s for i, s in enumerate(tracer.spans) if i > root and under(i)]
    dur = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
    out = {f"{name}_s": v for name, v in dur.items() if name.startswith("ops.")}
    if "verb.ingest" in dur:
        listed = sum(s.get("objects", 0) for s in spans if s["name"] == "catalog.list_files")
        out.update({
            "catalog.list_files_s": dur.get("catalog.list_files", 0.0),
            "catalog.objects_listed": listed,
            "catalog.ingest_s": dur["verb.ingest"] - dur.get("catalog.list_files", 0.0),
            "catalog.rows_new": counts["rows_new"],
            "catalog.rows_quarantined": counts["rows_quarantined"],
            "catalog.dedup_ratio": counts["rows_new"] / max(1, counts["matching"]),
            "tasker.verb_s": dur.get("verb.tasker", 0.0),
            "tasker.tasks_new": counts["tasks_new"],
            "tasker.new_ratio": counts["tasks_new"] / max(1, counts["tasks_rows"]),
            "runner.worker_s": dur.get("verb.worker", 0.0),
            "runner.tasks_ok": counts["tasks_ok"],
            "runner.tasks_failed": counts["tasks_failed"],
        })
    return out


if __name__ == "__main__":
    sys.exit(main())
