"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed once
and cached under ``.perfbench/`` in the checkout; Spark scratch space,
saved indexes and temp files stay there too.

Set-up is what a user pays before the first answer: starting the Spark
session (and its JVM), the prime (the first call of every kind the
timed passes make, on a small separate input) and the scans of the
real input. The session starts and the prime runs once; the scans run
three times. ``setup_s`` is session start + prime + the median scan.
Then the run measures the workload's timed passes for ``S`` seconds and
at least three passes, and checks every output.

The last line of stdout is the result object: ``--trace 0`` reports the
``end_to_end`` metrics of ``BENCHMARK.json``, ``--trace 1`` the
``per_layer`` ones, from a run whose calls into each layer are wrapped in
spans (see ``spans.py``). The line before it, prefixed
``perfbench-detail``, holds the workload's own named figures and the
environment (cores, RAM, pyspark and numpy versions).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "vectorsearch_with_hnsw_spark"
SCAN_REPS = 3
# a run that has not finished by then is failed rather than left hanging
DEADLINE_S = 160


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024.0 * 1024.0)
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def pin_environment(cpus: int) -> None:
    """Everything the session and its Python workers need, set before
    pyspark is imported: local[cpus], a driver heap that fits this
    machine, scratch and temp dirs inside the checkout, one BLAS thread
    per process, and the package importable by workers started outside
    the checkout root."""
    dirs = {d: os.path.join(WORK, d) for d in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    heap_gb = max(1, min(4, int(ram_gb() // 4)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{heap_gb}g",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        # local[cpus] already runs one task per core; a BLAS thread pool in
        # each Python worker on top of that oversubscribes the cores
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        # no hsperfdata files in the system temp dir, from the launcher JVM either
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
            f"--driver-java-options -Djava.io.tmpdir={dirs['tmp']}",
            "pyspark-shell",
        ]),
    )


def pytest_running() -> bool:
    """Whether a test suite runs beside the benchmark (it must not)."""
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pytest" in f.read():
                        return True
            except OSError:
                pass
    return False


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_inputs(workload, seed: int) -> str:
    """Generate the workload's inputs for ``seed`` once; later runs reuse them."""
    data_dir = os.path.join(WORK, "data", workload.name, f"seed-{seed}")
    if not os.path.isdir(data_dir):
        tmp = f"{data_dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        workload.prepare(tmp, seed)
        try:
            os.rename(tmp, data_dir)
        except OSError:  # a concurrent run finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return data_dir


def layer_metrics(names: list[str], run, tracer, window: tuple[float, float], overhead_s: float,
                  cores: int, peak_mb: float) -> dict[str, float]:
    """Per-layer figures from the traced run; 0 for a layer the workload
    does not call."""
    from spans import median_of

    v = dict.fromkeys(names, 0.0)
    v.update((k, x) for k, x in run.values.items() if k in v)
    build = tracer.named("index.build")
    v["index.build.call_s"] = median_of(build)
    for key in ("executor_s", "task_max_s", "task_median_s", "core_busy_frac", "shuffle_write_mb"):
        v[f"index.build.{key}"] = median_of(build, key)
    query = tracer.named("index.query")
    v["index.query.call_s"] = median_of(query)
    v["index.query.batch_s"] = median_of(tracer.named("index.query.batch"))
    for key in ("shuffle_read_mb", "jobs", "tasks", "task_max_s"):
        v[f"index.query.{key}"] = median_of(query, key)
    for op in ("append", "delete", "rebuild", "save", "load"):
        v[f"index.{op}.call_s"] = median_of(tracer.named(f"index.{op}"))
    v["sources.scan_s"] = median_of(tracer.named("sources.scan"))
    cand = tracer.named("operators.dedup.candidates")
    v["operators.dedup.candidates_s"] = median_of(cand)
    v["operators.dedup.shuffle_write_mb"] = median_of(cand, "shuffle_write_mb")
    cc = tracer.named("operators.clusters.cc")
    v["operators.clusters.cc_s"] = median_of(cc)
    v["operators.clusters.jobs"] = median_of(cc, "jobs")
    v["cache.tracked_after_op"] = max(run.tracked_after_op, default=0)
    v["spark.persisted_rdds"] = max(run.persisted_after_release, default=0)
    t0, t1 = window
    timed = [s for s in tracer.spans if s.start >= t0 and s.end <= t1]
    for key in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "gc_s"):
        v[f"spark.{key}"] = sum(s.stats.get(key, 0.0) for s in timed)
    v["spark.core_busy_frac"] = sum(s.stats.get("executor_s", 0.0) for s in timed) / ((t1 - t0) * cores)
    v["spark.peak_rss_mb"] = peak_mb
    v["trace.overhead_frac"] = overhead_s / (t1 - t0)
    return v


def end_to_end(setup_s: float, outcome, primary_s: list[float]) -> dict[str, float]:
    """The untraced run's metrics (see the README for each workload's units)."""
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(outcome.pass_s),
        "work_per_s": outcome.work_per_s,
        "op_p50_s": statistics.median(primary_s),
        "recall": outcome.quality,
    }


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: run from a checkout that holds {PACKAGE}/ and BENCHMARK.json",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    cpus = cpu_count()
    pin_environment(cpus)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    import numpy
    import pyspark

    from rss import PeakRss
    from spans import Tracer
    from workloads import WORKLOADS, Run

    from vectorsearch_with_hnsw_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    if pytest_running():
        print("perfbench: a test suite is running beside the benchmark; figures are unreliable",
              file=sys.stderr)
    data_dir = prepare_inputs(wl, args.seed)
    work_dir = os.path.join(WORK, "run")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)

    tracer = Tracer(enabled=bool(args.trace), cores=cpus)
    run = Run(tracer)
    scan_s: list[float] = []
    spark = None
    rss = PeakRss()
    with rss if args.trace else contextlib.nullcontext():
        try:
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            tracer.bind(spark)
            start_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.prime(run, spark, data_dir)
            prime_s = time.perf_counter() - t0
            for _ in range(SCAN_REPS):
                t0 = time.perf_counter()
                state = wl.setup(run, spark, data_dir, work_dir, args.seed)
                scan_s.append(time.perf_counter() - t0)
                run.release(spark)
            setup_s = start_s + prime_s + statistics.median(scan_s)
            overhead0 = tracer.overhead_s
            steal0, total0 = cpu_jiffies()
            t0 = time.perf_counter()
            outcome = wl.measure(run, spark, state, args.seconds, bool(args.trace))
            window = (t0, time.perf_counter())
            steal1, total1 = cpu_jiffies()
            overhead_s = tracer.overhead_s - overhead0
        finally:
            shutdown(spark)
            shutil.rmtree(work_dir, ignore_errors=True)
    signal.alarm(0)

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{wl.name}-seed{args.seed}.jsonl"))
        values = layer_metrics([m["name"] for m in spec["per_layer"]], run, tracer, window,
                               overhead_s, cpus, rss.peak_mb)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = end_to_end(setup_s, outcome, run.times[wl.primary])
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    detail = dict(
        workload=wl.name, seed=args.seed, seconds=args.seconds, trace=args.trace,
        setup_s=dict(start_s=start_s, prime_s=prime_s, scan_s=scan_s),
        timed_wall_s=window[1] - window[0], passes=len(outcome.pass_s),
        # CPU time the hypervisor gave to other guests during the timed
        # passes: the usual cause of a run that is slow on every call
        steal_frac=(steal1 - steal0) / max(1, total1 - total0),
        ops_failed_frac=run.failed / max(1, run.attempted), failures=run.failures,
        call_s={k: [round(x, 3) for x in v] for k, v in run.times.items()},
        figures=run.values,
        env=dict(nproc=cpus, ram_gb=round(ram_gb(), 1), pyspark=pyspark.__version__,
                 numpy=numpy.__version__, python=sys.version.split()[0],
                 driver_memory=os.environ["SPARK_DRIVER_MEMORY"]),
    )
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
