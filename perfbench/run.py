"""Benchmark runner: one workload, one driver process, closed loop.

    python3 perfbench/run.py --workload tracker_run --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one table

Run from the repository root. The runner generates (or reuses) the
seeded fixture, sets the session up several times (session start,
fixture, one untimed warm-up run) and reports the median set-up, then
runs the workload back to back for ``--seconds`` and checks every run's
output. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Provenance and
the ``failed_frac`` of the run go to stderr; ``--trace 1`` also writes
the spans to ``.perfbench/spans-<workload>-<seed>.json``.

Everything it writes stays under ``.perfbench/`` in the working
directory. Exit code 2 means the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
STATE = Path.cwd() / ".perfbench"
DEFAULT_SEED = 1
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_RUNS = 2  # timed runs per measurement window, at least
CORES = 4
DRIVER_MEM = "2g"
# The heap is committed and touched up front (-Xms = heap size, pre-touch):
# otherwise when G1 grows it decides how much of peak_rss_mb is heap, and
# that spread it 20% across runs. Off-heap JVM memory (Arrow
# buffers, metaspace) and the Python processes still move the metric.
JAVA_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
THREAD_CAPS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")


def pin_environment() -> dict:
    """Process-wide settings, applied before numpy or the JVM start."""
    ncpu = len(os.sched_getaffinity(0))
    cores = min(CORES, ncpu)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for var in THREAD_CAPS:
        os.environ[var] = "1"
    tmp = STATE / "tmp"
    local = STATE / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            "TZ": "UTC",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the engine from this checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
        }
    )
    return {"nproc": ncpu, "cores": cores, "ram_gb": round(ram_gb, 1), "driver_mem": DRIVER_MEM}


def start_session():
    from marex_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(STATE / "warehouse"),
            "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir={STATE / 'tmp'}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, then wait until every
    process this run started (JVM, Python workers) has exited."""
    import procstat
    from pyspark import SparkContext

    children = [p for p in procstat.tree_pids() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    procstat.wait_gone(children, timeout_s=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        import workloads

        self.args = args
        self.cls = workloads.CLASSES[args.workload]
        self.spark = None
        self.wl = None
        self.attempted = 0
        self.failed = 0
        self.digests: set[str] = set()
        self.problems: list[str] = []
        self.session_s: list[float] = []
        self.walls: list[float] = []
        self.last = None  # Output of the last checked run
        self.stage_metrics = None  # set by a traced run

    def setup_once(self) -> float:
        """Session start + fixture build/reuse + one untimed warm-up run."""
        import gen

        t0 = time.perf_counter()
        self.spark = start_session()
        self.session_s.append(time.perf_counter() - t0)
        fixture, manifest = gen.ensure_fixture(STATE / "fixtures", self.cls.kind, self.args.seed, self.cls.shape)
        self.wl = self.cls(self.spark, fixture, manifest)
        self.one_run()
        return time.perf_counter() - t0

    def setup(self) -> list[float]:
        times = []
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            times.append(self.setup_once())
        return times

    def one_run(self) -> float | None:
        """One checked run; its wall seconds, or None if it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.wl.run()
        except Exception as exc:  # a failed run is counted, not fatal
            self.failed += 1
            self.problems.append(f"{type(exc).__name__}: {exc}"[:300])
            return None
        finally:
            self.spark.catalog.clearCache()
        wall = time.perf_counter() - t0
        if out.problems:
            self.failed += 1
            self.problems.extend(out.problems)
            return None
        self.digests.add(out.digest)
        self.last = out
        return wall

    def timed(self, seconds: float) -> dict:
        import procstat

        walls, cpus, fails = [], [], 0
        t_end = time.perf_counter() + seconds
        with procstat.PeakRss() as rss:
            while time.perf_counter() < t_end or (len(walls) < MIN_RUNS and fails < MIN_RUNS):
                c0 = procstat.tree_cpu_s()
                wall = self.one_run()
                c1 = procstat.tree_cpu_s()
                if wall is None:
                    fails += 1
                    continue
                walls.append(wall)
                cpus.append(c1 - c0)
        self.walls = walls
        return {"walls": walls, "cpus": cpus, "peak_rss": rss.peak_bytes}


def end_to_end(setup_times, timed, items) -> dict:
    run_s = median(timed["walls"])
    return {
        "setup_s": {"value": median(setup_times), "unit": "s"},
        "run_s": {"value": run_s, "unit": "s"},
        "items_per_s": {"value": items / run_s if run_s else 0.0, "unit": "items/s"},
        "cpu_s": {"value": median(timed["cpus"]), "unit": "s"},
        "peak_rss_mb": {"value": timed["peak_rss"] / 2**20, "unit": "MB"},
    }


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def run_one(args, env: dict) -> int:
    sys.path.insert(0, str(REPO))
    try:
        import marex_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    bench = Bench(args)
    try:
        setup_times = bench.setup()
        if args.trace:
            import trace_layers

            spans = STATE / f"spans-{args.workload}-{args.seed}.json"
            metrics = trace_layers.traced(bench, args.seconds, spans)
        else:
            metrics = end_to_end(setup_times, bench.timed(args.seconds), bench.wl.items)
    finally:
        shutdown(bench.spark)
    expected = json.loads((HERE / "expected.json").read_text()).get(args.workload, {})
    pinned = expected.get(str(args.seed))
    if pinned is not None and bench.digests - {pinned}:
        bench.problems.append(f"digest {sorted(bench.digests)} != pinned {pinned}")
    if len(bench.digests) > 1:
        bench.problems.append(f"runs disagree: digests {sorted(bench.digests)}")
    correct = not bench.problems and bench.failed == 0
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "digest": sorted(bench.digests),
        "failed_frac": bench.failed / max(1, bench.attempted),
        "problems": bench.problems[:20],
        "setup_times_s": setup_times,
        "run_walls_s": bench.walls,
        "session_start_s": bench.session_s,
        "counts": bench.last.counts if bench.last else None,
        "stage_metrics": bench.stage_metrics,
        **env,
        **versions(),
    }
    print("perfbench " + json.dumps(info), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints one table and a JSON map."""
    import workloads

    table = {}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 2
        res = json.loads(lines[-1])
        res["metrics"]["failed_frac"] = {"value": res["failed"] / res["attempted"], "unit": "ratio"}
        table[name] = res
    if not args.trace:
        cols = ["setup_s", "run_s", "items_per_s", "cpu_s", "peak_rss_mb", "failed_frac"]
        print(f"{'workload':<15}" + "".join(f"{c:>19}" for c in cols))
        for name, res in table.items():
            m = res["metrics"]
            print(f"{name:<15}" + "".join(f"{m[c]['value']:>11.4g} {m[c]['unit']:<7}" for c in cols))
    print(json.dumps(table))
    return 0 if all(r["correct"] for r in table.values()) else 1


def main(argv=None) -> int:
    env = pin_environment()
    sys.path.insert(0, str(HERE))
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args, env)


if __name__ == "__main__":
    sys.exit(main())
