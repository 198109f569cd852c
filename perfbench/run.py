"""Benchmark runner: one workload, one seed, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload who_warehouse --seed 1 --seconds 5 --trace 0

A run pins the environment, prepares the workload's inputs, launches three
sessions at once, each in a process with no JVM yet (``setup_s``), runs
one cold pass in declared order (``cold_s``), then warm passes in seeded
order until ``--seconds`` of them have been measured (``warm_s``,
``cpu_s``). The correctness gate runs after each operation of every
untraced warm pass, off the clock; the cold pass is a warm-up. With ``--trace 1`` it
mixes untraced and traced warm passes and prints the per-layer metrics
instead of the end-to-end ones. The last stdout line is ``{"correct",
"attempted", "failed", "metrics"}``; a line before it records the pinned
environment and host load.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
LAUNCHES = 3
REQUIRED = ("__spark_entry__.py", "bench.py", "etl_oms_spark/__init__.py", "tools/check.py")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def pin_environment() -> dict:
    """Everything Spark reads at launch: threads, heap, scratch dirs.

    Must run before pyspark is imported. All scratch space lives under
    the checkout's ``.perfbench_work``.
    """
    for sub in ("tmp", "spark-local"):
        path = os.path.join(WORK, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    heap_mb = min(2048, mem_total_mb() // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # fixed compiler threads keep their CPU totals readable per pass
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                             "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.environ.update(env)
    return env


def start_session():
    from etl_oms_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stops the session, then its JVM, and waits until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def timed_launch() -> tuple[float, object]:
    """Seconds from ``get_spark`` in a process with no JVM yet to the
    first finished job, and the session."""
    import etl_oms_spark.session  # noqa: F401 - imports stay off the clock

    t0 = time.perf_counter()
    spark = start_session()
    return time.perf_counter() - t0, spark


def _launch_only() -> None:
    """A launch sample for ``launches``: say ready, wait for the go line
    on stdin, time one launch, print the seconds, stop the JVM."""
    import etl_oms_spark.session  # noqa: F401

    print("ready", flush=True)
    sys.stdin.readline()
    seconds, spark = timed_launch()
    print(seconds, flush=True)
    stop_session(spark)


def launches() -> tuple[list[float], object, list[subprocess.Popen]]:
    """``LAUNCHES`` session launches started together, each in a process
    with no JVM: ``LAUNCHES - 1`` helper processes and this one, whose
    session the run goes on with. Returns the seconds of each, this
    process's session and the helpers, which go on to stop their JVMs;
    ``end_helpers`` waits for them."""
    helpers = [subprocess.Popen([sys.executable, os.path.abspath(__file__), "--launch-only"],
                                cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=subprocess.DEVNULL, text=True)
               for _ in range(LAUNCHES - 1)]
    try:
        for h in helpers:
            if h.stdout.readline().strip() != "ready":
                raise RuntimeError("a launch helper did not start")
        for h in helpers:
            h.stdin.write("go\n")
            h.stdin.flush()
        own, spark = timed_launch()
        samples = [float(h.stdout.readline()) for h in helpers]
    except BaseException:
        end_helpers(helpers, kill=True)
        raise
    return [*samples, own], spark, helpers


def end_helpers(helpers: list[subprocess.Popen], kill: bool = False) -> None:
    """Waits until every launch helper, and so its JVM, has exited."""
    for h in helpers:
        if kill:
            h.kill()
        h.stdin.close()
        if h.wait(timeout=170) != 0 and not kill:
            raise RuntimeError(f"a launch helper exited with {h.returncode}")


class Runner:
    def __init__(self, workload, trace: bool) -> None:
        from perfbench.probes import ProcTree, Spans

        self.wl = workload
        self.tree = ProcTree()
        self.spans = Spans() if trace else None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op, traced: bool, parent: int | None, check: bool) -> dict:
        """Runs one operation, then its correctness check if ``check``;
        returns its timings, the wall and CPU time of the check (which the
        pass subtracts), and its counters if traced."""
        from pyspark.sql import DataFrame

        self.attempted += 1
        rec = {"op": op.name, "build_s": 0.0, "plan_s": 0.0, "action_s": 0.0,
               "check_s": 0.0, "check_cpu_s": (0.0, 0.0)}
        marks = {}
        built = result = None
        cpu0 = time.process_time()
        marks["start"] = time.perf_counter()
        try:
            built = op.build()
            marks["built"] = time.perf_counter()
            rec["py_cpu_s"] = time.process_time() - cpu0
            rec["build_s"] = marks["built"] - marks["start"]
            if traced:
                rec["build_jobs"] = self.counters.jobs_since_mark()
                if isinstance(built, DataFrame):
                    # a separate planning of the built plan: the sink's own
                    # QueryExecution plans again inside the action
                    marks["plan"] = time.perf_counter()
                    built._jdf.queryExecution().executedPlan()
                    marks["planned"] = time.perf_counter()
                    rec["plan_s"] = marks["planned"] - marks["plan"]
            cpu2 = time.process_time()
            marks["action"] = time.perf_counter()
            result = op.act(built)
            marks["acted"] = time.perf_counter()
            rec["py_cpu_s"] += time.process_time() - cpu2
            rec["action_s"] = marks["acted"] - marks["action"]
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            self.failed += 1
            self.errors.append(f"{op.name}: {exc!r}"[:300])
            check = False
        if check:
            c0 = time.perf_counter()
            tree0 = self.tree.cpu_s()
            self.attempted += 1
            try:
                problems = op.check(built, result)
            except Exception as exc:  # noqa: BLE001 - a failed check
                problems = [f"error: {exc!r}"]
            if problems:
                self.failed += 1
                self.errors.append(f"check {op.name}: " + "; ".join(problems)[:300])
            tree1 = self.tree.cpu_s()
            rec["check_cpu_s"] = (tree1[0] - tree0[0], tree1[1] - tree0[1])
            rec["check_s"] = time.perf_counter() - c0
        built = result = None
        if traced:
            rec.update(self.counters.since_mark())
            op_id = self.spans.add(f"op:{op.name}", marks["start"], time.perf_counter(),
                                   parent, **{k: v for k, v in rec.items() if k != "op"})
            for name, a, b in (("build", "start", "built"), ("plan", "plan", "planned"),
                               ("action", "action", "acted")):
                if a in marks:
                    self.spans.add(name, marks[a], marks.get(b), op_id)
        gc.collect()
        return rec

    def run_pass(self, spark, ops, out_dir: str, traced: bool, label: str,
                 check: bool) -> dict:
        """One pass over ``ops``. ``wall_s`` is the pass's whole wall time,
        counter reads and forced planning of a traced pass included, less
        the correctness checks; ``cpu_s`` likewise leaves out the checks
        and the JIT compiler threads."""
        cpu0, jit0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        pass_id = None
        if traced:
            pass_id = self.spans.add(f"pass:{label}", t0, None)
            self.counters.mark()
        recs = [self.run_op(op, traced, pass_id, check) for op in ops]
        t1 = time.perf_counter()
        cpu, jit = self.tree.cpu_s()
        wall = t1 - t0 - sum(r["check_s"] for r in recs)
        check_cpu = sum(r["check_cpu_s"][0] for r in recs)
        check_jit = sum(r["check_cpu_s"][1] for r in recs)
        jit_s = jit - jit0 - check_jit
        out = {"wall_s": wall, "cpu_s": cpu - cpu0 - check_cpu - jit_s, "jit_cpu_s": jit_s,
               "ops": recs}
        if self.wl.has_outputs:
            out["files"], out["bytes"] = _part_files(out_dir)
        if traced:
            self.spans.records[pass_id].update(end=t1, wall_s=wall)
        spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
        return out


def warm_passes(runner: Runner, spark, wl, ops, out_dir: str, seconds: float,
                trace: bool) -> tuple[list[dict], list[dict]]:
    """Warm passes in seeded order until ``seconds`` of measured time,
    every untraced one checked. With ``trace`` they alternate untraced
    and traced, at least three, starting and ending untraced, so JIT drift
    cancels out of ``trace.overhead_s``. Returns (untraced, traced)."""
    untraced, traced = [], []
    measured = 0.0
    n = 0
    while n == 0 or measured < seconds or (trace and (n < 3 or n % 2 == 0)):
        is_traced = trace and n % 2 == 1
        p = runner.run_pass(spark, wl.warm_order(ops), out_dir, is_traced, f"warm{n}",
                            check=not is_traced)
        (traced if is_traced else untraced).append(p)
        measured += p["wall_s"]
        n += 1
    return untraced, traced


def _part_files(directory: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(directory):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def layer_metrics(passes: list[dict], untraced: list[dict], wl) -> dict:
    """Per-layer values: the median over traced warm passes. Operations
    this workload does not run read 0."""
    from perfbench.workloads import ITERATIVE, WHO_OPS

    def med(fn) -> float:
        return statistics.median(fn(p) for p in passes)

    def total(key):
        return lambda p: sum(r.get(key, 0) for r in p["ops"])

    def op_value(op, fn):
        return lambda p: sum(fn(r) for r in p["ops"] if r["op"] == op)

    m = {
        "contract.build_s": (med(total("build_s")), "s"),
        "contract.build_jobs": (med(total("build_jobs")), "count"),
        "driver.py_cpu_s": (med(total("py_cpu_s")), "s"),
        "catalyst.plan_s": (med(total("plan_s")), "s"),
        "exec.action_s": (med(total("action_s")), "s"),
        "spark.jobs": (med(total("jobs")), "count"),
        "spark.stages": (med(total("stages")), "count"),
        "spark.tasks": (med(total("tasks")), "count"),
        "spark.executor_cpu_s": (med(total("executor_cpu_s")), "s"),
        "spark.gc_s": (med(total("gc_s")), "s"),
        "spark.shuffle_write_mb": (med(total("shuffle_write_mb")), "MB"),
        "spark.spill_mb": (med(total("spill_mb")), "MB"),
        "spark.input_mb": (med(total("input_mb")), "MB"),
        "jvm.jit_cpu_s": (med(lambda p: p["jit_cpu_s"]), "s"),
        "trace.overhead_s": (
            med(lambda p: p["wall_s"])
            - statistics.median(p["wall_s"] for p in untraced), "s"),
    }
    for q in ITERATIVE:
        m[f"q.{q}.build_s"] = (med(op_value(q, lambda r: r["build_s"])), "s")
        m[f"q.{q}.exec_s"] = (med(op_value(q, lambda r: r["plan_s"] + r["action_s"])), "s")
        m[f"q.{q}.jobs"] = (med(op_value(q, lambda r: r.get("jobs", 0))), "count")
    for op, metric in WHO_OPS.items():
        m[metric] = (med(op_value(op, lambda r: r["build_s"] + r["plan_s"] + r["action_s"])), "s")
    m["sources.files_written"] = (med(lambda p: p.get("files", 0)), "count")
    m["sources.write_tasks"] = (med(total("write_tasks")), "count")
    m["sources.bytes_written_per_input_byte"] = (
        med(lambda p: p["bytes"]) / wl.input_bytes if wl.has_outputs else 0.0, "B/B")
    return m


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import SCALES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench",
                    help="tiny: sf0.001 and a small generated directory (tests)")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}",
              file=sys.stderr)
        return 2
    env = pin_environment()
    import bench

    from perfbench.probes import SparkCounters

    load_start = os.getloadavg()[0]
    jiffies_start = bench._cpu_jiffies()

    wl = WORKLOADS[args.workload](ROOT, WORK, args.seed, args.scale)
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(out_dir, ignore_errors=True)

    setups, spark, helpers = launches()

    runner = Runner(wl, bool(args.trace))
    ops = wl.ops(spark, out_dir)
    cold = runner.run_pass(spark, ops, out_dir, False, "cold", check=False)
    # the helpers stop their JVMs during the cold pass; none is left in
    # the process tree whose CPU the warm passes count
    end_helpers(helpers)
    if args.trace:
        runner.counters = SparkCounters(spark)
    untraced, traced = warm_passes(runner, spark, wl, ops, out_dir, args.seconds,
                                   bool(args.trace))
    peak_rss = runner.tree.peak_rss_mb()
    stop_session(spark)

    computed = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (cold["wall_s"], "s"),
        "warm_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    if args.trace:
        computed.update(layer_metrics(traced, untraced, wl))
        runner.spans.write(os.path.join(
            WORK, "trace", f"{args.workload}-seed{args.seed}.jsonl"))
    metrics = {k: computed[k] for k in names}
    jiffies_end = bench._cpu_jiffies()
    info = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "nproc": nproc(), "mem_total_mb": mem_total_mb(), **env,
        "shuffle_partitions": int(env["SPARK_GRAFT_CPUS"]),
        "loadavg_start_1m": load_start, "loadavg_end_1m": os.getloadavg()[0],
        "steal_jiffies_delta": jiffies_end.get("steal", 0) - jiffies_start.get("steal", 0),
        "warm_passes_untraced": len(untraced), "warm_passes_traced": len(traced),
        "setup_samples_s": setups, "cold_pass_s": cold["wall_s"],
        "warm_pass_s": [p["wall_s"] for p in untraced],
        "check_s": [round(sum(r["check_s"] for r in p["ops"]), 3) for p in untraced],
        "warm_op_s": {r["op"]: statistics.median(
            q["build_s"] + q["plan_s"] + q["action_s"]
            for p in untraced for q in p["ops"] if q["op"] == r["op"])
            for r in untraced[0]["ops"]},
        "errors": runner.errors,
    }
    info["all_metrics"] = {k: v for k, (v, _) in computed.items() if not k.startswith("q.")}
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if sys.argv[1:] == ["--launch-only"]:
        _launch_only()
        sys.exit(0)
    sys.exit(main())
