"""Benchmark driver: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload pm_e2e --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up (``setup_s``, from process
start) starts a ``local[N]`` session and runs a small warm-up job that
starts the JIT and the Python workers. The run then generates the
workload's inputs from ``--seed`` and runs complete jobs until
``--seconds`` have passed (at least one), checking every job against
the generator's ground truth. ``job_s`` is the median untraced job;
with a short ``--seconds``, the first job of the process, which also
compiles the workload's plans, as a fresh ``chill-spark`` invocation
does. A warm-up on the workload itself would cost as much as the job
and double every run.

``--trace 0`` reports the end-to-end metrics (untraced jobs only);
``--trace 1`` alternates untraced and traced jobs and reports the
per-layer metrics, writing the spans to
``.perfbench_work/trace_<workload>_<seed>.json``. The last line of
standard output is the JSON result; the line before it is a readable
summary. Everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 4


def _setup_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(work: str):
    from chill_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={work} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def warm_up(spark, work: str) -> None:
    """JVM and Python-worker start-up: an Arrow-batched pandas map, a
    shuffle, a parquet write and read-back."""
    import pandas as pd

    def shift(batches):
        for pdf in batches:
            yield pd.DataFrame({"k": pdf["id"] % 7, "v": pdf["id"] + 1})

    path = os.path.join(work, "warmup")
    df = spark.range(20000).mapInPandas(shift, "k long, v long")
    df.groupBy("k").sum("v").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()


class MemorySampler:
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers), sampled every 100 ms. Each process counts its
    PSS, so pages a forked Python worker shares with its parent count
    once rather than once per process."""

    def __init__(self):
        import threading

        self.peak = 0
        self._generation = 0  # bumped by reset: drops samples begun before
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @staticmethod
    def tree_pss() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        me = os.getpid()
        total = 0
        for pid in parent:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
            self._generation += 1

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            generation = self._generation
            pss = self.tree_pss()
            with self._lock:
                if generation == self._generation:
                    self.peak = max(self.peak, pss)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    import chill_spark  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _setup_env(work)

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](work)

    sampler = MemorySampler()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_start_s = time.perf_counter() - t0
    warm_up(spark, work)
    setup_s = time.perf_counter() - T_START
    load_1m = [os.getloadavg()[0]]
    attempted = failed = 0
    errors: list[str] = []
    job_s: list[float] = []  # untraced jobs, in order
    traced: list[dict] = []
    tracers: list[Tracer] = []

    def one_job(i: int, tracer=None) -> float | None:
        nonlocal attempted, failed
        out = os.path.join(work, "out", f"job_{i:03d}")
        attempted += 1
        t = time.perf_counter()
        try:
            result = wl.run(spark, out, tracer=tracer)
            elapsed = time.perf_counter() - t
            errs = wl.check(out, result)
        except Exception as e:  # a raising job counts as failed
            result, errs = None, [f"{type(e).__name__}: {e}"]
            elapsed = None
        if errs:
            failed += 1
            errors.extend(f"job {i}: {e}" for e in errs[:5])
        if tracer is not None and result is not None and not errs:
            tracer.finish()
            traced.append(layers.job_metrics(tracer, result, elapsed))
        wl.reset()
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        return elapsed

    wl.prepare(args.seed)
    # Untraced jobs only, or with --trace: untraced, traced, untraced, ...
    # (the overhead compares traced jobs with the untraced ones after the
    # first, which also compiles this workload's plans)
    min_jobs = 3 if args.trace else 1
    sampler.reset()
    t_measure = time.perf_counter()
    i = 1
    while failed < 3 and (
        i <= min_jobs or time.perf_counter() - t_measure < args.seconds
    ):
        if args.trace and i % 2 == 0:
            tracer = Tracer(spark, f"job_{i:03d}")
            tracers.append(tracer)
            one_job(i, tracer)
        else:
            e = one_job(i)
            if e is not None:
                job_s.append(e)
        load_1m.append(os.getloadavg()[0])
        i += 1
    measured_s = time.perf_counter() - t_measure
    peak_rss = sampler.peak
    sampler.stop()
    stop_session(spark)

    summary = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": CORES,
        "inputs": wl.sizes(),
        "session_s": round(session_start_s, 4),
        "jobs_timed": len(job_s),
        "job_s": [round(x, 4) for x in job_s],
        "error_rate": {"value": failed / attempted, "unit": "fraction"},
        "load_1m": [round(x, 2) for x in load_1m],
        "errors": errors[:10],
    }
    if args.trace:
        metrics = layers.per_layer(traced, session_start_s, job_s[1:])
        session = {"id": "setup/0", "name": "session.start", "parent": None,
                   "run": "setup", "attrs": {}, "start": t0,
                   "end": t0 + session_start_s, "dur_s": session_start_s,
                   "self_s": session_start_s, "spark": {}}
        trace_path = os.path.join(work, f"trace_{wl.name}_{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"summary": summary,
                       "spans": [session] + [s for t in tracers for s in t.spans]},
                      f, indent=1)
        summary["trace_file"] = os.path.relpath(trace_path, root)
    else:
        if not job_s:  # every timed job raised: time per attempt instead
            job_s = [measured_s / (i - 1)]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": statistics.median(job_s), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
        }
    print(json.dumps({"summary": summary}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
