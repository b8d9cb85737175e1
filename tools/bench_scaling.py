"""Scaling-efficiency benchmark: the same flagship job at two parallelism
levels (the sandbox stand-in for N vs 4N executors; no real cluster here).

Protocol (north rule, BASELINE.json):

1. Materialize a deterministic interleaved corpus to parquet once
   (64 input splits so both levels have full task parallelism).
2. In a fresh JVM per level, run extraction + span-equality + all metric
   kernels + the partial/final summary aggregation over that parquet,
   timing ONLY job execution (session startup and a warm-up job are
   excluded — on a real cluster those are amortized across a
   long-running app).
3. Report docs/sec at both levels and
   efficiency = (throughput_4N / throughput_N) / 4; gate is ≥ 0.8.
   The tiers come from this process's CPU affinity: a pair whose 4N tier
   needs more CPUs than the host has is reported as unmeasurable and is
   not run; with no measurable pair the verdict is "unmeasured".

Usage:  python tools/bench_scaling.py [n_docs]           # orchestrator
        python tools/bench_scaling.py --submit [n_docs]  # via spark-submit
        python tools/bench_scaling.py --skew [n_docs]    # giants @ every
                                                         # 100th doc, 60×
        python tools/bench_scaling.py --worker M P D     # one measured run

``--submit`` runs the same tier protocol through the REAL ``spark-submit
--py-files`` binary (tools/submit_job.py, engine imported from the
content-addressed zip only, cwd outside the repo) — the north rule's
literal packaging clause. The submitted job runs the same warm-up pass
as the in-process worker before its timer starts, so the two protocols
time the same region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORPUS = "/tmp/dms_scale_corpus"


def worker(master: str, shuffle_partitions: int, corpus: str) -> None:
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline
    from docling_metrics_spark.session import build_session, warm_python_workers

    spark = build_session(
        app_name=f"dms-scale-{master}",
        master=master,
        shuffle_partitions=shuffle_partitions,
        # identical task granularity at every parallelism level — otherwise
        # low-N runs bin-pack the scan into a handful of giant splits and
        # the comparison measures batch-size effects, not scaling
        extra_conf={
            "spark.sql.files.minPartitionNum": "128",
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
        },
    )
    # Warm-up: JVM JIT + Python worker pool spin-up, not in the timed region.
    warm_python_workers(spark)

    docs = spark.read.parquet(corpus)
    t0 = time.time()
    per_doc = run_pipeline(docs)
    summary = aggregate_metrics(per_doc)
    row = summary.collect()[0]
    wall = time.time() - t0
    n_docs = int(row["cnt_span_equal_int"])
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "master": master,
                "wall_sec": round(wall, 3),
                "n_docs": n_docs,
                "docs_per_sec": round(n_docs / wall, 2),
                "span_equal_rate": round(
                    float(row["sum_span_equal_int"]) / n_docs, 6
                ),
            }
        )
    )
    spark.stop()


def _submit_cmd(master: str, shuffle: int, out_json: str,
                corpus: str) -> list[str]:
    """spark-submit invocation for one tier: engine from the zip alone."""
    import shutil

    from docling_metrics_spark.shipping import build_zip

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return [
        spark_submit,
        "--master", master,
        "--conf", f"spark.sql.shuffle.partitions={shuffle}",
        "--conf", "spark.sql.files.minPartitionNum=128",
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=512",
        "--conf", "spark.ui.enabled=false",
        "--py-files", build_zip(),
        os.path.join(repo, "tools", "submit_job.py"),
        corpus, out_json,
    ]


def prune_stale_corpora(keep: str) -> list[str]:
    """Delete every ``{CORPUS}_*`` corpus directory except ``keep`` (and
    its build staging directory) and print each one removed: every
    (n_docs, skew) choice leaves its own corpus behind, so /tmp would
    otherwise fill up across invocations."""
    removed = sorted(
        d for d in glob.glob(f"{CORPUS}_*")
        if d not in (keep, f"{keep}.staging") and os.path.isdir(d)
    )
    for d in removed:
        shutil.rmtree(d)
        print(f"removed stale corpus {d}", file=sys.stderr)
    return removed


def orchestrate(n_docs: int, via_submit: bool = False,
                skew: bool = False) -> dict:
    """``skew=True`` turns the giant-document knob up 5× (a giant with
    60× the median span count every 100th doc instead of every 500th) so
    giant documents — scored map-side, each costing the summary only its
    task's partial row — dominate the skew (VERDICT r4 #6); same protocol
    otherwise."""
    from docling_metrics_spark.cache import cached_materialize
    from docling_metrics_spark.datagen import write_corpus
    from docling_metrics_spark.session import build_session

    # the path names the (n_docs, skew) choice; the cache key (package
    # digest + the same knobs) rebuilds the corpus after any package edit,
    # datagen.py included
    skew_kw = {"skew_every": 100, "skew_factor": 60} if skew else {}
    tag = (f"_skew{skew_kw['skew_every']}x{skew_kw['skew_factor']}"
           if skew_kw else "")
    corpus = f"{CORPUS}{tag}_{n_docs}"
    cpus = sorted(os.sched_getaffinity(0))

    def build(dest: str) -> None:
        prune_stale_corpora(keep=corpus)
        spark = build_session(master=f"local[{len(cpus)}]", shuffle_partitions=8)
        write_corpus(spark, dest, n_docs=n_docs, partitions=128, **skew_kw)
        spark.stop()

    cached_materialize(corpus, f"{n_docs}|{skew_kw}", build)

    pairs = scaling_pairs(len(cpus))
    results = {}
    # taskset pins each run to a dedicated core allocation — the honest
    # stand-in for a cluster of N cores vs 4N cores (executors own their
    # cores; without pinning, local-mode Python workers ride idle cores and
    # blur the tiers together). Only tiers of a measurable pair run.
    repeats = 2
    for n in sorted({t for lo, hi, ok in pairs if ok for t in (lo, hi)}):
        master, shuffle = f"local[{n}]", 2 * n
        cores = ",".join(str(c) for c in cpus[:n])
        best = None
        successes = 0
        failures = 0
        while successes < repeats and failures <= repeats + 1:
            # stale python daemons from a previous JVM steal pinned cores
            subprocess.run(["pkill", "-f", "pyspark.daemon"], capture_output=True)
            time.sleep(2)
            if via_submit:
                # zip-only imports: strip PYTHONPATH, run from /tmp
                env = {k: v for k, v in os.environ.items()
                       if k != "PYTHONPATH"}
                env["PYSPARK_PYTHON"] = sys.executable
                env["PYSPARK_DRIVER_PYTHON"] = sys.executable
                out_json = f"/tmp/dms_submit_scale_{n}.json"
                cmd = ["taskset", "-c", cores] + _submit_cmd(
                    master, shuffle, out_json, corpus
                )
                cwd = "/tmp"
                tag = "SUBMIT_RESULT "
            else:
                env = {**os.environ, "PYTHONPATH": os.path.dirname(
                    os.path.dirname(os.path.abspath(__file__)))}
                cmd = ["taskset", "-c", cores, sys.executable,
                       os.path.abspath(__file__), "--worker", master,
                       str(shuffle), corpus]
                cwd = None
                tag = "WORKER_RESULT "
            out = subprocess.run(
                cmd, capture_output=True, text=True, env=env, cwd=cwd
            )
            line = [l for l in out.stdout.splitlines() if l.startswith(tag)]
            if not line:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                failures += 1  # transient python-worker crash: retry
                continue
            successes += 1
            r = json.loads(line[0][len(tag):])
            if best is None or r["docs_per_sec"] > best["docs_per_sec"]:
                best = r
        if best is None:
            raise RuntimeError(f"worker {master} produced no result")
        results[n] = best

    # Every N→4N stand-in pair is reported, each tier pinned to its own
    # core allocation. A pair needing more CPUs than this host has is
    # "unmeasurable": its 4N tier would share N's cores, so its ratio says
    # nothing about scaling. One box also confounds the measurable pairs
    # (few active cores clock higher; all cores share one memory bus),
    # which a real N vs 4N cluster does not.
    effs = {
        f"scaling_efficiency_{lo}_to_{hi}": (
            round((results[hi]["docs_per_sec"] / results[lo]["docs_per_sec"]) / 4.0, 4)
            if ok else "unmeasurable"
        )
        for lo, hi, ok in pairs
    }
    any_result = next(iter(results.values()), {})
    report = {
        "n_docs": any_result.get("n_docs"),
        "host_cpus": len(cpus),
        **{f"local{n}_docs_per_sec": r["docs_per_sec"] for n, r in results.items()},
        **effs,
        "gate": ">=0.8 on a measurable N to 4N pair",
        "verdict": scaling_verdict(list(effs.values())),
        "span_equal_rate": any_result.get("span_equal_rate"),
    }
    if skew_kw:
        report["skew"] = skew_kw
    print(json.dumps(report))
    return report


def scaling_pairs(n_cpus: int) -> list[tuple[int, int, bool]]:
    """The N→4N pairs (N = 1, 2, 4, 8) with whether each is measurable:
    only when this host has 4N CPUs for the 4N tier."""
    return [(n, 4 * n, 4 * n <= n_cpus) for n in (1, 2, 4, 8)]


def scaling_verdict(effs: list) -> str:
    """"pass" when a measured pair reaches 0.8, "fail" when pairs were
    measured and none does, "unmeasured" when no pair could be measured
    (an unmeasurable pair never counts as a pass)."""
    measured = [e for e in effs if e != "unmeasurable"]
    if not measured:
        return "unmeasured"
    return "pass" if max(measured) >= 0.8 else "fail"


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(sys.argv[2], int(sys.argv[3]), sys.argv[4])
    else:
        # flags compose: --submit --skew 40000 runs the skewed corpus
        # through the packaged spark-submit path (orchestrate threads the
        # corpus choice into _submit_cmd)
        args = sys.argv[1:]
        via_submit = "--submit" in args
        skew = "--skew" in args
        rest = [a for a in args if a not in ("--submit", "--skew")]
        if any(a.startswith("-") for a in rest):
            sys.exit(f"unknown flag(s): {rest} "
                     "(expected [--submit] [--skew] [n_docs])")
        n_docs = int(rest[0]) if rest else 20000
        orchestrate(n_docs, via_submit=via_submit, skew=skew)
