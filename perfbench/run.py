"""Benchmark entry point: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload {migrate,analyze} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The engine runs on ``local[N]``, N = half
the usable cores, at most 2 (the rest is left to the driver, the JIT
compiler and the collector), one operation at a time (the next starts
when the previous one returns; no extra engine threads).

Each run: start Spark, generate the seeded inputs, run one fixed Spark
job that uses no engine code (so Spark's own first-job costs land in
set-up), then time whole iterations until ``--seconds`` of iteration
wall time have passed, at least one.  The first timed iteration is the
job's first run in the process, as a user running it pays it.  Every
iteration's outputs are checked against independent answers, outside
the timed region.  ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` runs a traced iteration in the state the untraced run
times, reports its per-layer metrics (from spans around calls into
engine modules and Spark's own counters), then an untraced and a traced
iteration whose difference is ``trace.overhead_s``.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.  Exit status is 0
only when every operation succeeded and every check passed; 2 when the
engine is not in the checkout.  See METRICS.md for the metric table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import OpLog, median, peak_rss_mb, process_age_s, run_with_timeout, tree_cpu_s  # noqa: E402

RUN_DEADLINE_S = 165.0     # every run must end within 180 s
GEN_REPEATS = 3            # input generation is timed this often; set-up uses the median
DRIVER_MEM = "2g"


def _engine():
    """Import the engine from the checkout; ``None`` if it is not there."""
    sys.path.insert(0, ROOT)
    try:
        import spanner_jdbc_converter_spark as eng
        from spanner_jdbc_converter_spark import (  # noqa: F401
            catalog, converter, copy, delete, modes, pipeline, plans, session)
        from spanner_jdbc_converter_spark.operators import (  # noqa: F401
            dedup, selection, similarity, text)
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return None
    return eng


def _workload(name: str):
    if name == "migrate":
        from migrate import Migrate
        return Migrate()
    from analyze import Analyze
    return Analyze()


class Ctx:
    """What a workload iteration needs: the session, the engine modules,
    its work directory, the tracer, and ``op`` to run one operation."""

    def __init__(self, spark, eng, work: str, tracer, ops: OpLog, start: float):
        self.spark, self.eng, self.work, self.tracer, self.ops = spark, eng, work, tracer, ops
        self.start = start
        self.phase = "setup"
        self.calls: dict = {}

    def op(self, name: str, fn):
        """Run one operation under a timeout, inside a span named ``name``.
        Failures are recorded and the workload continues."""
        self.ops.attempted += 1

        def spanned():
            with self.tracer.span(name):
                return fn()

        budget = max(RUN_DEADLINE_S - (time.perf_counter() - self.start), 5.0)
        t = time.perf_counter()
        ok, result, err = run_with_timeout(self.spark, spanned, min(90.0, budget))
        if not ok:
            self.ops.fail(f"{name}: {err}")
            self.tracer.reset_stack()
            return None
        if self.phase == "timed":
            self.ops.latencies.append(time.perf_counter() - t)
            self.ops.names.append(name)
        return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migrate", "analyze"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start = time.perf_counter() - process_age_s()

    if not os.path.isdir(os.path.join(ROOT, "spanner_jdbc_converter_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch, the JVM's and Python's temp files stay in the checkout;
    # no JVM (launcher or driver) writes its perf-data file under /tmp.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    cores = max(1, min(2, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        return _run(args, work, start, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


def _run(args, work: str, start: float, cores: int) -> int:
    eng = _engine()
    if eng is None:
        return 2
    t = time.perf_counter()
    spark = eng.session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        # A fixed, pre-touched heap (the usual server setting) so peak RSS
        # does not depend on when the collector chose to grow the heap;
        # the client compiler only, so JIT work does not race the timed
        # operations (see METRICS.md, "Load model").
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:ParallelGCThreads={cores} -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={work}/tmp -Dderby.stream.error.file={work}/derby.log",
        "spark.ui.showConsoleProgress": "false",
    })
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("FATAL")
    ops, wrong = OpLog(), []
    try:
        metrics = _measure(args, eng, spark, work, start, cores, get_spark_s, ops, wrong)
    finally:
        _stop_spark(spark)
    for e in ops.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    correct = not wrong
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct and ops.failed == 0 else 1


def _measure(args, eng, spark, work, start, cores, get_spark_s, ops: OpLog, wrong: list) -> dict:
    """Set up, warm up and run the workload; returns ``{metric: (value, unit)}``."""
    import numpy as np

    from tracer import Tracer, instrument

    wl = _workload(args.workload)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", cores)
    ctx = Ctx(spark, eng, work, tracer, ops, start)
    jvm = spark.sparkContext._gateway.jvm

    # Inputs: the same seed gives the same bytes; generated GEN_REPEATS
    # times so set-up reports a median generation time.
    gen_times, state = [], None
    for k in range(GEN_REPEATS):
        t = time.perf_counter()
        state = wl.generate(np.random.default_rng(args.seed), os.path.join(work, f"in{k}"))
        gen_times.append(time.perf_counter() - t)
    wl.setup(ctx, state)

    cpus: list[float] = []

    def iterate(i: int) -> tuple[float, dict]:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        res = wl.iteration(ctx, state, i)
        wall = time.perf_counter() - t0
        cpus.append(tree_cpu_s() - c0)
        bad = wl.check(ctx, state, res)
        for b in bad:
            ops.fail(b)
        wrong.extend(bad)
        wl.end_iteration(ctx, state, res)
        ctx.calls.clear()
        return wall, res

    _engine_warmup(spark, work)
    setup_s = (time.perf_counter() - start) - sum(gen_times) + median(gen_times)

    if not args.trace:
        ctx.phase = "timed"
        walls: list[float] = []
        steal0 = _steal_s()
        while (not walls or sum(walls) < args.seconds) and _time_left(start, walls):
            walls.append(iterate(len(walls))[0])
        print(f"perfbench: {args.workload} iterations={len(walls)} ops={len(ops.latencies)} "
              f"setup={setup_s:.2f}s get_spark={get_spark_s:.2f}s gen={median(gen_times):.2f}s "
              f"walls={[round(w, 2) for w in walls]} cpu={[round(c, 2) for c in cpus]} "
              f"steal={_steal_s() - steal0:.2f}s", file=sys.stderr)
        print("perfbench: ops " + " ".join(f"{n}={x:.2f}" for n, x in zip(ops.names, ops.latencies)),
              file=sys.stderr)
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(walls), "s"),
            "peak_rss_mb": (peak_rss_mb() + peak_rss_mb(_jvm_pid(jvm)), "MB"),
        }

    # T1 is traced in the state the untraced run times (the job's first
    # run in the process), and the per-layer metrics come from it; the
    # overhead compares an untraced U2 with a traced T3, two later
    # iterations in the same state.
    targets, materialize = wl.trace_targets(eng)
    walls = []
    for i, traced in enumerate((True, False, True)):
        # U2 and T3, later runs of the job, each take less than T1.
        if i == 1 and time.perf_counter() - start + 2 * walls[0] > RUN_DEADLINE_S:
            print("perfbench: no time for U2 and T3; trace.overhead_s not measured",
                  file=sys.stderr)
            break
        ctx.phase = "traced" if traced else "untraced"
        tracer.enabled, tracer.iteration = traced, i
        gc0 = _jvm_gc_s(jvm)
        if traced:
            with instrument(tracer, targets, materialize) as calls:
                ctx.calls = calls
                wall, res = iterate(i)
        else:
            wall, res = iterate(i)
        walls.append(wall)
        if i == 0:
            t1_res, t1_gc = res, _jvm_gc_s(jvm) - gc0
    tracer.enabled = False
    layer = wl.layer_metrics(tracer, state, [(0, t1_res)])
    executors = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    layer.update({
        "session.get_spark_s": get_spark_s,
        "process.jvm_gc_s": t1_gc,
        "process.driver_rss_mb": peak_rss_mb(),
        "process.jvm_rss_mb": peak_rss_mb(_jvm_pid(jvm)),
        "process.failed_tasks": sum(executors.apply(k).failedTasks() for k in range(executors.size())),
        **({"trace.overhead_s": walls[2] - walls[1]} if len(walls) == 3 else {}),
    })
    for name in {s.name for s in tracer.spans}:
        layer[f"{name}_self_s"] = sum(tracer.self_time(s) for s in tracer.named(name, 0))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json"))
    print(f"perfbench: {args.workload} T1/U2/T3 walls={[round(w, 2) for w in walls]} "
          f"spans={len(tracer.spans)}", file=sys.stderr)
    return {name: (layer.get(name, 0.0), unit) for name, unit in _layer_names()}


def _engine_warmup(spark, work: str) -> None:
    """A fixed Spark job, the same for every workload and using no engine
    code: the JVM's class loading and first-job costs, which any first job
    in a process pays, land in set-up instead of the first operation."""
    path = os.path.join(work, "warmup.parquet")
    spark.range(0, 200_000, 1, 8).selectExpr(
        "id", "id % 97 AS k", "CAST(id AS STRING) AS s").write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    df.groupBy("k").count().join(df.select("k").distinct(), "k").collect()


def _stop_spark(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its signal to exit) and wait
    until it has ended."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine's vCPUs, summed."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def _time_left(start: float, walls: list[float]) -> bool:
    """Room for one more iteration before the run deadline."""
    longest = max(walls) if walls else 0.0
    return time.perf_counter() - start + 1.5 * longest < RUN_DEADLINE_S - 15


def _jvm_pid(jvm) -> int:
    return int(jvm.java.lang.ProcessHandle.current().pid())


def _jvm_gc_s(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(beans.get(k).getCollectionTime(), 0) for k in range(beans.size())) / 1000.0


def _layer_names() -> list[tuple[str, str]]:
    """Per-layer metric names and units, as listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


if __name__ == "__main__":
    sys.exit(main())
