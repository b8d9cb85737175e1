"""End-to-end benchmark of the docling_metrics_spark flagship on local[N].

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

N is the number of CPUs this process may run on (``os.sched_getaffinity``);
one driver process generates all the load on ``local[N]`` with N shuffle
partitions. The workload's corpus is generated from ``--seed`` and written
to parquet; the program under test only ever reads that parquet.

Workloads (see WORKLOADS.md for why each exists and what it stresses):

- ``flagship``: generator defaults (a giant every 500th doc, an empty doc
  every 211th). One pass = ``pipeline.run_pipeline`` → per-doc parquet
  write → ``pipeline.aggregate_metrics`` collected.
- ``resume``: ``checkpoint.run_checkpointed`` with 8 buckets, crashed
  after half the commits by ``fail_after_buckets``, then resumed.

Untimed warm-up passes run for a quarter of ``--seconds`` (at least
one), then timed passes repeat until ``--seconds`` of timed work are done,
to the nearest whole pass; metrics are medians over the timed passes.
Every pass is checked outside the timed region (checks.py).
``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
passes, for half of ``--seconds`` each time, in a restarted session, then
again in one restarted with Spark's event log on, then the layer probes of
layers.py, and prints the per-layer metrics.

Output: the next-to-last stdout line is a JSON detail record (host, input
properties, per-pass samples); the last line is the result object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf resolves type hints here

import checks
import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SKEW_FACTOR = 60  # generator default: a giant holds 60x the median spans
EMPTY_EVERY = 211  # generator default: an empty doc every 211th
SETUP_REPEATS = 3
N_BUCKETS = 8
FAIL_AFTER_BUCKETS = N_BUCKETS // 2
WARMUP_SHARE = 0.25  # untimed warm-up, as a share of --seconds
TRACE_SHARE = 0.5  # each traced-run window, as a share of --seconds


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "pipeline" or "resume"
    n_docs: int
    skew_every: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload("flagship", "pipeline", 2000, 500),
        Workload("resume", "resume", 600, 500),
    )
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One invocation: its scratch directory, session settings and passes.

    All scratch data (corpus, per-pass outputs, Spark local dirs, event
    logs, JVM temp files) lives under ``<root>/.perfbench_work/<workload>``
    and is removed when the run ends."""

    def __init__(self, workload: Workload, seed: int, cpus: int):
        self.workload = workload
        self.seed = seed
        self.cpus = cpus
        self.work = os.path.join(ROOT, ".perfbench_work", workload.name)
        self.corpus = os.path.join(
            self.work,
            f"corpus_s{seed}_n{workload.n_docs}_g{workload.skew_every}",
        )
        self._pass_no = 0

    # -- session ---------------------------------------------------------

    def session_conf(self, event_log: bool) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{events}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self, event_log: bool = False):
        from docling_metrics_spark.session import build_session

        spark = build_session(
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=self.session_conf(event_log),
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -- set-up ------------------------------------------------------------

    def write_corpus(self, spark) -> None:
        from docling_metrics_spark.datagen import write_corpus

        write_corpus(
            spark,
            self.corpus,
            self.workload.n_docs,
            seed=self.seed,
            partitions=4 * self.cpus,
            skew_every=self.workload.skew_every,
            skew_factor=SKEW_FACTOR,
            empty_every=EMPTY_EVERY,
        )

    def warm_workers(self, spark) -> None:
        """Start one Python worker per slot and import the kernels there."""
        from pyspark.sql import functions as F

        @F.pandas_udf("double")
        def _warm(v: pd.Series) -> pd.Series:
            import docling_metrics_spark.operators.udfs  # noqa: F401

            return v * 1.0

        slots = spark.sparkContext.defaultParallelism
        spark.range(slots, numPartitions=slots).select(
            F.sum(_warm(F.col("id").cast("double")))
        ).collect()

    def setup(self):
        """Start the session and warm its Python workers once, then write
        the corpus SETUP_REPEATS times. Each repetition's set-up time is the
        start and warm-up plus its own corpus write."""
        t0 = time.perf_counter()
        spark = self.start_session()
        t1 = time.perf_counter()
        self.warm_workers(spark)
        t2 = time.perf_counter()
        samples = []
        for _ in range(SETUP_REPEATS):
            t3 = time.perf_counter()
            self.write_corpus(spark)
            write_s = time.perf_counter() - t3
            samples.append(
                {"start_s": t1 - t0, "warm_s": t2 - t1, "write_s": write_s,
                 "total_s": t2 - t0 + write_s}
            )
        return spark, samples

    # -- passes -------------------------------------------------------------

    def next_out(self) -> str:
        self._pass_no += 1
        return os.path.join(self.work, f"pass{self._pass_no}")

    def pipeline_pass(self, spark) -> dict:
        from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline

        out = self.next_out()
        e0 = time.time()
        t0 = time.perf_counter()
        run_pipeline(spark.read.parquet(self.corpus)).write.mode(
            "overwrite"
        ).parquet(out)
        t1 = time.perf_counter()
        summary = aggregate_metrics(spark.read.parquet(out)).collect()[0].asDict()
        t2 = time.perf_counter()
        return {
            "out": out, "summary": summary, "epoch": (e0, time.time()),
            "epoch_agg": (e0 + (t1 - t0), time.time()),
            "wall_s": t2 - t0, "write_s": t1 - t0, "agg_s": t2 - t1,
        }

    def resume_pass(self, spark) -> dict:
        from docling_metrics_spark.checkpoint import run_checkpointed

        out = self.next_out()
        docs = spark.read.parquet(self.corpus)
        e0 = time.time()
        t0 = time.perf_counter()
        crashed = False
        try:
            run_checkpointed(
                spark, docs, out, n_buckets=N_BUCKETS,
                corpus_fingerprint=self.fingerprint(),
                fail_after_buckets=FAIL_AFTER_BUCKETS,
            )
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
            crashed = True
        t1 = time.perf_counter()
        e1 = time.time()
        run_checkpointed(
            spark, docs, out, n_buckets=N_BUCKETS,
            corpus_fingerprint=self.fingerprint(),
        )
        t2 = time.perf_counter()
        return {
            "out": out, "crashed": crashed,
            "epoch": (e0, time.time()), "epoch_resume": (e1, time.time()),
            "wall_s": t2 - t0, "crash_s": t1 - t0, "resume_s": t2 - t1,
        }

    def fingerprint(self) -> str:
        w = self.workload
        return f"s{self.seed}_n{w.n_docs}_g{w.skew_every}"

    def reference_run(self, spark) -> str:
        """The rows an uninterrupted checkpointed run writes: the pipeline
        over the whole corpus, each row tagged with its bucket."""
        from pyspark.sql import functions as F

        from docling_metrics_spark.checkpoint import bucket_of
        from docling_metrics_spark.pipeline import run_pipeline

        out = os.path.join(self.work, "reference")
        run_pipeline(spark.read.parquet(self.corpus)).withColumn(
            "bucket", bucket_of(F.col("doc_id"), N_BUCKETS)
        ).write.mode("overwrite").parquet(out)
        return out

    def measure(self, spark, seconds: float, check) -> list[dict]:
        """Untimed warm-up passes for ``WARMUP_SHARE * seconds`` (at least
        one), then passes until ``seconds`` of timed work are done (at least
        one), to the nearest whole pass: no pass starts when half of the
        last pass would not fit in the window. ``check(sample)``
        runs after each timed pass, outside the timed region, and adds its
        verdict to it; then the previous pass's output is removed, so only
        the last pass's output stays on disk."""
        one_pass = (
            self.pipeline_pass if self.workload.kind == "pipeline"
            else self.resume_pass
        )
        warmed = 0.0
        while not warmed or warmed < WARMUP_SHARE * seconds:
            warm = one_pass(spark)
            warmed += warm["wall_s"]
            shutil.rmtree(warm["out"])
        samples: list[dict] = []
        timed = 0.0
        while not samples or timed + samples[-1]["wall_s"] / 2 < seconds:
            sample = one_pass(spark)
            timed += sample["wall_s"]
            check(sample)
            if samples:
                shutil.rmtree(samples[-1]["out"])
            samples.append(sample)
        return samples


class RssSampler:
    """Peak RSS of this process's descendants, the driver JVM and the
    Python workers it forks, sampled every 100 ms in a thread. Peaks are
    kept for the sum and for each of the two groups."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = self.sample()
            for k, v in now.items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.interval)

    def sample(self) -> dict[str, int]:
        now = {"total": 0, "jvm": 0, "python": 0}
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    group = "jvm" if fh.read().strip() == "java" else "python"
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
            now[group] += rss
            now["total"] += rss
        return now

    NAMES = {
        "total": "memory.peak_rss_mb",
        "jvm": "memory.jvm_peak_rss_mb",
        "python": "memory.python_peak_rss_mb",
    }

    def metrics(self) -> dict[str, dict]:
        return {
            self.NAMES[k]: metric(v / 2**20, "MB") for k, v in self.peak.items()
        }


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (from /proc/<pid>/stat ppid)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(bench: Bench, setup_samples, samples) -> dict:
    n = bench.workload.n_docs
    return {
        "setup_s": metric(statistics.median(s["total_s"] for s in setup_samples), "s"),
        "docs_per_s": metric(statistics.median(n / s["wall_s"] for s in samples), "docs/s"),
        "wall_s": metric(statistics.median(s["wall_s"] for s in samples), "s"),
        "span_equal_rate": metric(
            statistics.median(s["check"]["span_equal_rate"] for s in samples), "ratio"
        ),
    }


def run(workload: Workload, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark invocation; returns {"detail": ..., "result": ...}."""
    cpus = host_cpus()
    bench = Bench(workload, seed, cpus)
    shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(os.path.join(bench.work, "tmp"))
    # inherited by the JVM and its Python workers: their scratch files stay
    # in the run's directory whatever the caller's environment says
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    spark = None
    try:
        spark, setup_samples = bench.setup()
        props = checks.input_properties(bench.corpus, workload.skew_every)
        if workload.kind == "pipeline":
            def check(sample):
                sample["check"] = checks.check_pipeline_pass(
                    sample["out"], sample["summary"], workload.n_docs
                )
        else:
            # the rows a resumed run must equal, built before the timed
            # passes; its own cost is in neither set-up nor the passes
            reference = bench.reference_run(spark)

            def check(sample):
                sample["check"] = checks.check_resume_pass(
                    sample["out"], reference, workload.n_docs, N_BUCKETS,
                    sample["crashed"],
                )

        if trace:
            # untraced and traced passes each run in a restarted session,
            # so their difference is the tracing overhead, not JVM warm-up
            spark.stop()
            spark = bench.start_session()
        window = TRACE_SHARE * seconds if trace else seconds
        with RssSampler() as rss:
            samples = bench.measure(spark, window, check)
        metrics = end_to_end(bench, setup_samples, samples)

        layer_metrics = None
        if trace:
            spark.stop()
            spark = bench.start_session(event_log=True)
            layer_metrics = layers.traced(
                bench, spark, window, check, setup_samples, samples,
                rss.metrics(),
            )
            # the traced passes are checked like the untraced ones
            samples = samples + layer_metrics.pop("_samples")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))
        except OSError:
            pass  # another workload's scratch is still there

    attempted = sum(s["check"]["attempted"] for s in samples)
    failed = sum(s["check"]["failed"] for s in samples)
    problems = [p for s in samples for p in s["check"]["problems"]]
    if layer_metrics is not None:
        problems += layer_metrics.pop("_problems")
    detail = {
        "workload": workload.name,
        "seed": seed,
        "host_cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "input": props,
        "setup_samples": setup_samples,
        "passes": [
            {k: round(v, 4) for k, v in s.items() if k.endswith("_s")}
            for s in samples
        ],
        "fail_rate": failed / attempted,
        "problems": problems[:20],
        "end_to_end": metrics,
        "memory": rss.metrics(),
    }
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": layer_metrics if trace else metrics,
    }
    return {"detail": detail, "result": result}


def require_program() -> None:
    """Fail unless the package under test sits next to this directory."""
    pkg = os.path.join(ROOT, "docling_metrics_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no docling_metrics_spark package at {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    require_program()
    out = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": out["detail"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
