"""Tiny-size self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

It checks the benchmark, not the program:

- every workload, run at a tiny size with ``--trace 0`` and ``--trace 1``,
  prints exactly the metrics BENCHMARK.json names, each with its unit,
  reads ``span_equal_rate`` = 1.0 and exits 0;
- a per-doc row with ``span_equal`` flipped, a per-doc metric value
  changed, and a duplicated lineage row each trip the output checks.

Each tiny run is a child process (``--child``) so that every run gets its
own JVM, as it does when the benchmark is run for real.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"flagship": 120, "resume": 80}


def _tiny_run_module():
    sys.path.insert(0, HERE)
    import run

    run.require_program()
    run.SETUP_REPEATS = 1
    for name, n_docs in TINY_DOCS.items():
        w = run.WORKLOADS[name]
        run.WORKLOADS[name] = run.Workload(w.name, w.kind, n_docs, w.skew_every)
    return run


def child_run(workload: str, trace: str) -> int:
    run = _tiny_run_module()
    return run.main(["--workload", workload, "--seed", "5", "--seconds", "0.1",
                     "--trace", trace])


def child_corrupt() -> int:
    """Run one pass of each kind, corrupt its output, report the checks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    run = _tiny_run_module()
    import checks

    verdicts = {}
    spark = None
    try:
        bench = run.Bench(run.WORKLOADS["flagship"], 5, run.host_cpus())
        shutil.rmtree(bench.work, ignore_errors=True)
        spark, _ = bench.setup()
        n = bench.workload.n_docs

        def corrupted(column: str, change) -> dict:
            sample = bench.pipeline_pass(spark)
            verdicts.setdefault("clean", checks.check_pipeline_pass(
                sample["out"], sample["summary"], n))
            part = sorted(glob.glob(os.path.join(sample["out"], "*.parquet")))[0]
            table = pq.read_table(part)
            values = table[column].to_pylist()
            values[0] = change(values[0])
            i = table.schema.get_field_index(column)
            table = table.set_column(
                i, column, pc.cast(values, table.schema.field(column).type)
            )
            pq.write_table(table, part)
            return checks.check_pipeline_pass(sample["out"], sample["summary"], n)

        verdicts["span_equal_flipped"] = corrupted("span_equal", lambda v: not v)
        verdicts["metric_changed"] = corrupted(
            "f1_score", lambda v: (v or 0.0) + 0.5
        )
        spark.stop()
        spark = None

        bench = run.Bench(run.WORKLOADS["resume"], 5, run.host_cpus())
        shutil.rmtree(bench.work, ignore_errors=True)
        spark, _ = bench.setup()
        reference = bench.reference_run(spark)
        sample = bench.resume_pass(spark)

        def resume_check() -> dict:
            return checks.check_resume_pass(
                sample["out"], reference, bench.workload.n_docs,
                run.N_BUCKETS, sample["crashed"],
            )

        verdicts["resume_clean"] = resume_check()
        lineage = next(
            f for f in sorted(
                glob.glob(os.path.join(sample["out"], "checkpoint", "*.parquet"))
            )
            if pq.ParquetFile(f).metadata.num_rows  # skip empty part files
        )
        shutil.copy(lineage, lineage.replace(".parquet", "-dup.parquet"))
        verdicts["lineage_duplicated"] = resume_check()
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(os.path.join(ROOT, ".perfbench_work"), ignore_errors=True)
    print(json.dumps(verdicts))
    return 0


def _child(*args: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines[-1] if lines else ""


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        "0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    failures = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in ("0", "1"):
            code, last = _child("run", workload, trace)
            label = f"{workload} --trace {trace}"
            if code != 0 or not last:
                failures.append(f"{label}: exit {code}")
                continue
            result = json.loads(last)
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{label}: result keys {sorted(result)}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{label}: metrics/units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                failures.append(f"{label}: {result}")
            if trace == "0" and result["metrics"]["span_equal_rate"]["value"] != 1.0:
                failures.append(f"{label}: span_equal_rate != 1.0")
            print(f"ran {label}", flush=True)

    code, last = _child("corrupt")
    verdicts = json.loads(last) if code == 0 and last else {}
    expect_clean = ("clean", "resume_clean")
    expect_trip = ("span_equal_flipped", "metric_changed", "lineage_duplicated")
    for name in expect_clean:
        v = verdicts.get(name)
        if not v or v["failed"] or v["problems"]:
            failures.append(f"{name}: the unmodified output failed its check: {v}")
    for name in expect_trip:
        v = verdicts.get(name)
        if not v or not v["problems"]:
            failures.append(f"{name}: the corrupted output passed its check: {v}")
    if verdicts.get("span_equal_flipped", {}).get("failed") != 1:
        failures.append("span_equal_flipped: expected exactly one failed doc")
    if verdicts.get("lineage_duplicated", {}).get("failed") != 1:
        failures.append("lineage_duplicated: expected exactly one failed bucket")
    for f in failures:
        print(f"FAIL {f}")
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        if sys.argv[2] == "run":
            sys.exit(child_run(sys.argv[3], sys.argv[4]))
        sys.exit(child_corrupt())
    sys.exit(main())
