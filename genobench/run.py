"""Seeded genomics benchmark for avocado_spark.

    python3 genobench/run.py --workload realign_call --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from the seed, starts a SparkSession on
``local[<cpus>]``, runs WARMUP_JOBS warm-up jobs and then timed jobs
(parquet scan → avocado command → parquet sink) until ``--seconds`` have
passed, checking every output against the generator's truth. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--workload all`` runs every
workload, each in a fresh process.

``--trace 0`` reports the end-to-end metrics (setup_s, job_s, cpu_s,
peak_rss_mb, concordance). ``--trace 1`` alternates untraced and traced
jobs and reports the per-layer metrics instead (see layertrace.py); layers a
workload does not call read 0.

All scratch files, Spark's local dirs included, live under
``.genobench_work`` in the checkout; spans of the traced run are written
to ``.genobench_work/spans``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".genobench_work")
WORKLOAD_NAMES = ("realign_call", "gvcf_all_sites", "cohort_joint")
# the first job of a process is cold and the next few still get faster
WARMUP_JOBS = 3
# driver heap, fixed at full size so peak RSS does not depend on when
# the JVM chose to grow it
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "concordance": "ratio",
}

# layer → metrics reported by the traced run (units by metric suffix)
LAYER_METRICS = {
    "session": ["wall_s"],
    "io.scan": ["wall_s", "rows_out", "input_mb", "failed_tasks"],
    "io.sink": ["wall_s", "rows_out", "output_mb", "failed_tasks"],
    "prefilter": ["wall_s", "rows_out", "failed_tasks"],
    "realigner": ["wall_s", "task_s", "rows_out", "realigned_ratio", "failed_tasks"],
    "discovery": ["wall_s", "task_s", "shuffle_mb", "candidates", "kept_ratio", "failed_tasks"],
    "genotyping.observe": ["call_s", "wall_s", "self_s", "task_s", "rows_out", "failed_tasks"],
    "genotyping.events": ["wall_s", "task_s", "rows_out", "events_per_read", "failed_tasks"],
    "genotyping.genotype": ["wall_s", "task_s", "gc_s", "shuffle_mb", "spill_mb", "rows_out",
                            "failed_tasks"],
    "hard_filters": ["wall_s", "rows_out", "emitted_ratio", "failed_tasks"],
    "squareoff.extract": ["wall_s", "task_s", "shuffle_mb", "spill_mb", "skew", "rows_out",
                          "failed_tasks"],
    "squareoff.square_off": ["wall_s", "task_s", "shuffle_mb", "spill_mb", "skew", "rows_out",
                             "exact_ratio", "failed_tasks"],
    "joint.recall": ["wall_s", "task_s", "shuffle_mb", "rows_out", "failed_tasks"],
    "job": ["wall_s", "self_s"],
    "trace": ["overhead_s"],
}
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "skew": "ratio", "events_per_read": "ratio"}


def unit_of(metric: str) -> str:
    return next((u for suffix, u in UNITS.items() if metric.endswith(suffix)), "count")


def configure_environment(cpus: int) -> None:
    """Process hygiene, set before the JVM starts: a driver heap that
    fits a small host, workers that can import the package from any
    directory, and every scratch path inside the checkout."""
    for sub in ("spark-local", "tmp", "out", "data"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
        os.makedirs(os.path.join(WORK, sub))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the launcher's too: temp files in the checkout, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, path) if p)
    sys.path[:0] = [ROOT, HERE]


def start_spark():
    from avocado_spark.session import get_spark

    return get_spark(
        app_name="genobench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    from procfs import tree_pids

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + 30
    while (left := [p for p in tree_pids(me) if p != me]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)


class Bench:
    def __init__(self, spark, workload, data_dir: str):
        self.spark = spark
        self.workload = workload
        self.input = os.path.join(data_dir, "inputs", workload.input_file)
        self.truth = os.path.join(data_dir, "truth")
        self.out = os.path.join(WORK, "out", "job")
        self.attempted = 0
        self.failed = 0
        self.concordance: list[float] = []
        self.precision: list[float] = []

    def job(self, tracer=None) -> tuple[float, float]:
        """Run and check one job; returns its wall time (for a traced
        job, the root span's, which leaves out row counting) and the
        process tree's CPU time, both without the check."""
        from procfs import tree_cpu_s

        self.attempted += 1
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            if tracer is None:
                self.workload.run(self.spark, self.input, self.out)
            else:
                with tracer.span("job") as root:
                    self.workload.run(self.spark, self.input, self.out)
        except Exception:  # a failed job is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, tree_cpu_s(os.getpid()) - c0
        wall = time.perf_counter() - t0 if tracer is None else root.wall_s
        cpu = tree_cpu_s(os.getpid()) - c0
        result = self.workload.check(self.out, self.truth)
        self.concordance.append(result.concordance)
        self.precision.append(result.precision)
        if not result.ok:
            print(f"check failed: {'; '.join(result.problems)}", file=sys.stderr)
            self.failed += 1
        return wall, cpu


def timed_jobs(bench: Bench, seconds: float) -> dict[str, float]:
    from procfs import PeakRss, host_cpu_ticks

    walls, cpus = [], []
    steal0, total0 = host_cpu_ticks()
    end = time.perf_counter() + seconds
    with PeakRss(os.getpid()) as rss:
        while not walls or time.perf_counter() < end:
            wall, cpu = bench.job()
            walls.append(wall)
            cpus.append(cpu)
    steal1, total1 = host_cpu_ticks()
    print(f"# job_s samples: {' '.join(f'{w:.3f}' for w in walls)}", flush=True)
    # a shared host that takes CPU back slows every figure of the run
    print(f"# host steal {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}% "
          "of CPU time during timed jobs", flush=True)
    return {
        "job_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": rss.peak_mb,
        "samples": len(walls),
    }


def traced_jobs(bench: Bench, seconds: float, spans_path: str) -> dict[str, float]:
    """Alternate untraced and traced jobs; per-layer medians."""
    from layertrace import Tracer, median_metrics

    untraced, traced, layer_runs, spans = [], [], [], []
    end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < end:
        untraced.append(bench.job()[0])
        tracer = Tracer(bench.spark, prefix=f"genobench:t{len(traced)}")
        for module, attr, name, counter in bench.workload.patches:
            tracer.patch(module, attr, name, counter)
        try:
            traced.append(bench.job(tracer)[0])
        finally:
            tracer.unpatch()
        layer_runs.append(tracer.metrics())
        spans.append(tracer.dump_spans())
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump(spans, f, indent=1)
    layers = median_metrics(layer_runs)
    layers["trace"] = {"overhead_s": statistics.median(traced) - statistics.median(untraced)}
    return layers


def derive(layers: dict[str, dict[str, float]]) -> None:
    """Ratios from the counts the traced layers recorded."""

    def ratio(layer: str, num: str, den_layer: str, den: str, name: str) -> None:
        if layer in layers and layers.get(den_layer, {}).get(den):
            layers[layer][name] = layers[layer].get(num, 0.0) / layers[den_layer][den]

    if "io.scan" in layers:
        layers["io.scan"]["input_mb"] = layers["io.scan"].get("input_bytes", 0.0) / (1 << 20)
    ratio("realigner", "realigned", "realigner", "rows_out", "realigned_ratio")
    ratio("discovery", "rows_out", "discovery", "candidates", "kept_ratio")
    ratio("genotyping.events", "rows_out", "genotyping.events", "reads_in", "events_per_read")
    ratio("hard_filters", "rows_out", "genotyping.genotype", "rows_out", "emitted_ratio")
    ratio("squareoff.square_off", "exact", "squareoff.square_off", "rows_out", "exact_ratio")


def report(correct: bool, attempted: int, failed: int, metrics: dict[str, float],
           units: dict[str, str]) -> None:
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"job_errors {failed / attempted:.6g} ratio ({failed}/{attempted})")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)


def run_all(args) -> int:
    """Every workload in its own process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        for line in lines[:-1]:
            print(f"{name}: {line}", flush=True)
        if proc.returncode != 0 or not lines:
            return proc.returncode or 1
        result = json.loads(lines[-1])
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        combined["metrics"].update(
            {f"{name}.{k}": v for k, v in result["metrics"].items()}
        )
    print(json.dumps(combined), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if not os.path.isfile(os.path.join(ROOT, "avocado_spark", "__init__.py")):
        print(f"error: no avocado_spark package under {ROOT}", file=sys.stderr)
        return 2

    configure_environment(len(os.sched_getaffinity(0)))
    import gen
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    data_dir = os.path.join(WORK, "data")
    sizes = gen.generate(args.workload, args.seed, data_dir)
    gen_s = time.perf_counter() - t0
    print(f"# generated {args.workload} seed {args.seed}: {sizes} in {gen_s:.2f}s", flush=True)

    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, WORKLOADS[args.workload], data_dir)
        warm = [bench.job()[0] for _ in range(WARMUP_JOBS)]
        setup_s = time.perf_counter() - PROCESS_START - gen_s
        print(f"# session {session_s:.2f}s, warm-up jobs "
              f"{' '.join(f'{w:.2f}' for w in warm)}s", flush=True)
        if args.trace:
            layers = traced_jobs(bench, args.seconds, os.path.join(
                WORK, "spans", f"{args.workload}-seed{args.seed}.json"))
            layers["session"] = {"wall_s": session_s}
            derive(layers)
            metrics = {
                f"{layer}.{m}": layers.get(layer, {}).get(m, 0.0)
                for layer, ms in LAYER_METRICS.items() for m in ms
            }
            units = {k: unit_of(k) for k in metrics}
        else:
            measured = timed_jobs(bench, args.seconds)
            print(f"# samples {measured.pop('samples')}", flush=True)
            metrics = {
                "setup_s": setup_s,
                **measured,
                "concordance": statistics.median(bench.concordance or [0.0]),
            }
            # deterministic per seed but spread widely across seeds, so
            # printed for people rather than bounded
            print(f"# precision {statistics.median(bench.precision or [0.0]):.4f}")
            units = END_TO_END
    finally:
        stop_spark(spark)
    report(bench.failed == 0, bench.attempted, bench.failed, metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
