"""Per-layer metrics of the traced run, measured from outside the package.

Three sources, none of which instruments ``docling_metrics_spark``:

- Spark's own event log (``spark.eventLog.enabled`` through
  ``build_session(extra_conf=...)``): task times, CPU and GC time, and the
  ArrowEvalPython node's SQL metrics (Python worker start / init / run
  time, bytes sent and returned, rows returned).
- Probes that time calls into a layer's public functions over the same
  corpus: the scan floor (scan plus the JVM-side prediction pruning into a
  noop sink), the Arrow floor (the same plus an identity pandas UDF over
  the flagship's five input columns), and the flagship into a noop sink.
- An in-process pass of the kernel functions over a seeded, stratified
  sample of the corpus (giants and ordinary docs). It is the
  single-threaded baseline, and its per-doc results are cross-checked
  against the rows Spark wrote for the same doc_ids.

The ledger puts these together for one pass of the flagship pipeline:

    unattributed = 1 - (scan + arrow + kernel_s / N + write + agg) / wall

where ``arrow`` is the identity-UDF wall minus the scan floor and
``write`` the parquet sink minus the noop sink.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import defaultdict

import pandas as pd  # module-level: pandas_udf resolves type hints here

import checks

PY_METRICS = {
    "time to start Python workers": "udfs.py_start_s",
    "time to initialize Python workers": "udfs.py_init_s",
    "time to run Python workers": "udfs.py_run_s",
    "data sent to Python workers": "udfs.bytes_sent",
    "data returned from Python workers": "udfs.bytes_returned",
    "number of output rows": "udfs.rows_returned",
}

# name -> unit of every per-layer metric the traced run prints
UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "datagen.write_s": "s",
    "pipeline.scan_floor_s": "s",
    "pipeline.write_s": "s",
    "pipeline.span_mismatch": "count",
    "udfs.arrow_floor_s": "s",
    "udfs.py_start_s": "s",
    "udfs.py_init_s": "s",
    "udfs.py_run_s": "s",
    "udfs.bytes_sent": "bytes",
    "udfs.bytes_returned": "bytes",
    "udfs.rows_returned": "count",
    "extraction.ms_per_doc": "ms",
    "extraction.spans": "count",
    "tokenize.ms_per_doc": "ms",
    "tokenize.tokens": "count",
    "textmetrics.ms_per_doc": "ms",
    "textmetrics.sentinels": "count",
    "teds.ms_per_doc": "ms",
    "teds.pairs": "count",
    "teds.errors": "count",
    "layout.ms_per_doc": "ms",
    "layout.boxes": "count",
    "layout.sentinels": "count",
    "kernels.sample_docs": "count",
    "kernels.crosscheck_mismatch": "count",
    "skew.agg_s": "s",
    "skew.shuffle_bytes": "bytes",
    "checkpoint.wave_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.commit_jobs": "count",
    "checkpoint.recomputed_docs": "count",
    "checkpoint.lineage_rows": "count",
    "checkpoint.resume_s": "s",
    "spark.tasks": "count",
    "spark.task_max_over_median": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_failures": "count",
    "ledger.wall_s": "s",
    "ledger.kernel_s": "s",
    "ledger.scan_share": "ratio",
    "ledger.arrow_share": "ratio",
    "ledger.kernel_share": "ratio",
    "ledger.write_share": "ratio",
    "ledger.agg_share": "ratio",
    "ledger.unattributed_share": "ratio",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
    "memory.jvm_peak_rss_mb": "MB",
    "memory.python_peak_rss_mb": "MB",
}

KERNEL_SAMPLE = 120  # ordinary docs timed in-process
GIANT_SAMPLE = 6  # giant docs timed in-process
PROBE_REPEATS = 3


# -- Spark event log --------------------------------------------------------


class EventLog:
    """The parts of a Spark event log the ledger needs, keyed for lookup
    by wall-clock window (epoch seconds)."""

    def __init__(self, events_dir: str):
        self.executions: dict[int, dict] = {}
        self.stage_accums: dict[int, dict[int, float]] = defaultdict(dict)
        self.tasks: list[dict] = []
        for dirpath, _, names in sorted(os.walk(events_dir)):
            for name in sorted(names):
                with open(os.path.join(dirpath, name)) as fh:
                    for line in fh:
                        try:
                            self._add(json.loads(line))
                        except json.JSONDecodeError:
                            continue  # a line cut short by the log's end

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = {
                "start": ev["time"] / 1000, "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
                "infos": [ev["sparkPlanInfo"]],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex["infos"].append(ev["sparkPlanInfo"])
                ex["plan"] += ev.get("physicalPlanDescription", "")
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex["end"] = ev["time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            for acc in info.get("Accumulables", []):
                try:
                    self.stage_accums[info["Stage ID"]][acc["ID"]] = float(
                        acc["Value"]
                    )
                except (KeyError, TypeError, ValueError):
                    continue
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            shuffle = m.get("Shuffle Write Metrics") or {}
            self.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1000,
                    "duration": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "failed": ev["Task End Reason"].get("Reason") != "Success",
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                }
            )

    def executions_in(self, window) -> list[dict]:
        lo, hi = window
        return [e for e in self.executions.values() if lo <= e["start"] <= hi]

    def tasks_in(self, window) -> list[dict]:
        lo, hi = window
        return [t for t in self.tasks if lo <= t["launch"] <= hi]

    def python_metrics(self, window) -> tuple[dict[str, float], set[int]]:
        """Summed ArrowEvalPython SQL metrics of the executions started in
        ``window`` (seconds and bytes), and the stages that ran the node."""
        ids: dict[int, tuple[str, str]] = {}
        for ex in self.executions_in(window):
            for info in ex["infos"]:
                for node in _walk(info):
                    if node.get("nodeName", "").startswith("ArrowEvalPython"):
                        for m in node.get("metrics", []):
                            if m["name"] in PY_METRICS:
                                ids[m["accumulatorId"]] = (
                                    PY_METRICS[m["name"]], m.get("metricType", "")
                                )
        totals = {name: 0.0 for name in PY_METRICS.values()}
        stages = set()
        for stage, accums in self.stage_accums.items():
            for acc_id, value in accums.items():
                if acc_id in ids:
                    name, mtype = ids[acc_id]
                    totals[name] += value / {"nsTiming": 1e9, "timing": 1e3}.get(
                        mtype, 1.0
                    )
                    stages.add(stage)
        return totals, stages


def _walk(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk(child)


# -- probes ---------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _flagship_inputs(spark, corpus: str):
    """The columns the flagship reads, with the prediction side pruned
    JVM-side exactly as ``pipeline.run_pipeline`` prunes it."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.pipeline import _span_text, _table_htmls

    return spark.read.parquet(corpus).select(
        "doc_id", "spans", "raw_html",
        _span_text("pred_spans").alias("pred_text"),
        _table_htmls("pred_spans").alias("pred_tables"),
        "gt_boxes", "pred_boxes", F.lit(0).alias("_"),
    )


def probe_floors(spark, corpus: str) -> dict:
    """Scan floor, Arrow floor and the flagship into a noop sink, each the
    median of PROBE_REPEATS runs."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.pipeline import run_pipeline

    @F.pandas_udf("string")
    def identity(raw_html: pd.Series, pred_text: pd.Series,
                 pred_tables: pd.Series, gt_boxes: pd.Series,
                 pred_boxes: pd.Series) -> pd.Series:
        return raw_html

    def scan():
        _noop(_flagship_inputs(spark, corpus))

    def arrow():
        df = _flagship_inputs(spark, corpus)
        _noop(df.select("doc_id", "spans", identity(
            "raw_html", "pred_text", "pred_tables", "gt_boxes", "pred_boxes"
        ).alias("r")))

    scan_s = statistics.median(_timed(scan) for _ in range(PROBE_REPEATS))
    arrow_s = statistics.median(_timed(arrow) for _ in range(PROBE_REPEATS))
    noop_s = statistics.median(
        _timed(lambda: _noop(run_pipeline(spark.read.parquet(corpus))))
        for _ in range(PROBE_REPEATS)
    )
    return {"scan_s": scan_s, "arrow_s": arrow_s, "noop_s": noop_s}


# -- in-process kernel pass -----------------------------------------------


def _ordered_text(spans) -> str:
    """``pipeline._span_text`` in Python: non-null texts by offset."""
    return " ".join(
        s["text"] for s in sorted(
            (s for s in spans if s["text"] is not None), key=lambda s: s["offset"]
        )
    )


def _ordered_tables(spans) -> list:
    """``pipeline._table_htmls`` in Python: table texts by offset."""
    return [
        s["text"] for s in sorted(
            (s for s in spans if s["kind"] == "table"), key=lambda s: s["offset"]
        )
    ]


def _span_key(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def sample_ids(n_docs: int, skew_every: int, seed: int) -> dict[str, list[int]]:
    """Seeded stratified sample of doc indices: giants and ordinary docs."""
    rng = random.Random(seed)
    giants = [i for i in range(0, n_docs, skew_every)]
    ordinary = [i for i in range(n_docs) if i % skew_every]
    return {
        "giant": sorted(rng.sample(giants, min(GIANT_SAMPLE, len(giants)))),
        "ordinary": sorted(rng.sample(ordinary, min(KERNEL_SAMPLE, len(ordinary)))),
        "_sizes": {"giant": len(giants), "ordinary": len(ordinary)},
    }


def kernel_pass(corpus: str, per_doc: str, n_docs: int, skew_every: int,
                seed: int) -> dict:
    """Time each kernel of the fused flagship UDF, one process, over a
    stratified sample; cross-check each result against Spark's row."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from docling_metrics_spark.extraction.html_extract import (
        extract_spans_from_html,
    )
    from docling_metrics_spark.kernels.layout import evaluate_map
    from docling_metrics_spark.kernels.textmetrics import (
        DEFAULT_ERROR_SCORE,
        evaluate_token_pair,
    )
    from docling_metrics_spark.kernels.tokenize import treebank_tokenize
    from docling_metrics_spark.operators.udfs import (
        _doc_teds,
        _gt_tuples,
        _pred_tuples,
    )

    strata = sample_ids(n_docs, skew_every, seed)
    sizes = strata.pop("_sizes")
    wanted = {f"doc_{i:010d}": name for name, ids in strata.items() for i in ids}
    value_set = pa.array(list(wanted), type=pa.string())

    def rows(path: str) -> list[dict]:
        table = pq.read_table(path)
        return table.filter(pc.is_in(table["doc_id"], value_set=value_set)).to_pylist()

    docs = rows(corpus)
    spark_rows = {r["doc_id"]: r for r in rows(per_doc)}

    def run_doc(doc: dict) -> tuple[dict, dict, dict]:
        ns = time.perf_counter_ns
        t0 = ns()
        extracted = extract_spans_from_html(doc["raw_html"] or "")
        t1 = ns()
        gt_text = _ordered_text(extracted)
        gt_tables = _ordered_tables(extracted)
        pred_text = _ordered_text(doc["pred_spans"])
        pred_tables = _ordered_tables(doc["pred_spans"])
        t2 = ns()
        try:
            tok_a, tok_b = treebank_tokenize(gt_text), treebank_tokenize(pred_text)
        except Exception:  # evaluate_text_pair's error path
            tok_a = tok_b = None
        t3 = ns()
        if tok_a is None:
            text = dict.fromkeys(
                ("f1_score", "precision_score", "recall_score",
                 "edit_distance_score", "bleu_score", "meteor_score"),
                DEFAULT_ERROR_SCORE,
            )
        else:
            text = evaluate_token_pair(tok_a, tok_b).__dict__
        t4 = ns()
        teds = _doc_teds(gt_tables, pred_tables)
        t5 = ns()
        try:
            layout = evaluate_map(
                _gt_tuples(doc["gt_boxes"]), _pred_tuples(doc["pred_boxes"]),
                surface="core",
            )
            layout_sentinel = 0
        except ValueError:
            layout = dict.fromkeys(("map", "map_50", "map_75", "mar_100"), -1.0)
            layout_sentinel = 1
        t6 = ns()
        times = {"extraction": t1 - t0, "tokenize": t3 - t2,
                 "textmetrics": t4 - t3, "teds": t5 - t4, "layout": t6 - t5}
        counts = {
            "extraction.spans": len(extracted),
            "tokenize.tokens": len(tok_a or []) + len(tok_b or []),
            "textmetrics.sentinels": sum(
                1 for v in text.values() if v == DEFAULT_ERROR_SCORE
            ),
            "teds.pairs": teds["n_pairs"],
            "teds.errors": teds["error_count"],
            "layout.boxes": len(doc["gt_boxes"] or []) + len(doc["pred_boxes"] or []),
            "layout.sentinels": layout_sentinel,
        }
        result = {"span_equal": _span_key(extracted) == _span_key(doc["spans"] or []),
                  **text, "teds_mean": teds["teds_mean"],
                  "teds_pairs": teds["n_pairs"], "teds_errors": teds["error_count"],
                  **layout}
        return times, counts, result

    for doc in docs[:5]:  # compile regexes and fill caches before timing
        run_doc(doc)
    per_stratum: dict[str, list[dict]] = defaultdict(list)
    counts_total: dict[str, int] = defaultdict(int)
    mismatches = []
    for doc in docs:
        times, counts, result = run_doc(doc)
        per_stratum[wanted[doc["doc_id"]]].append(times)
        for k, v in counts.items():
            counts_total[k] += v
        row = spark_rows.get(doc["doc_id"])
        bad = [k for k, v in result.items()
               if row is None or not checks.same(v, row.get(k))]
        if bad:
            mismatches.append(f"{doc['doc_id']}: {', '.join(bad[:4])}")
    missing = sorted(set(wanted) - {d["doc_id"] for d in docs})
    mismatches += [f"{d}: not in the corpus" for d in missing]

    # corpus-weighted ms/doc per kernel: stratum means times stratum sizes
    ms = {}
    for kernel in ("extraction", "tokenize", "textmetrics", "teds", "layout"):
        total_ns = sum(
            sizes[name] * statistics.fmean(t[kernel] for t in timed)
            for name, timed in per_stratum.items()
        )
        ms[kernel] = total_ns / n_docs / 1e6
    return {
        "ms_per_doc": ms,
        "kernel_s": sum(ms.values()) * n_docs / 1000,
        "counts": dict(counts_total),
        "sample_docs": len(docs),
        "mismatches": mismatches,
    }


# -- the traced run -------------------------------------------------------


def traced(bench, spark, seconds: float, check, setup_samples,
           untraced: list[dict], memory: dict[str, dict]) -> dict:
    """Timed passes with the event log on, then the probes, the kernel
    pass and the ledger. ``memory`` holds the RSS peaks of the untraced
    passes. Stops ``spark`` (the event log is complete only
    then). Returns the per-layer metrics plus ``_samples`` (the traced
    passes, already checked) and ``_problems``."""
    w = bench.workload
    samples = bench.measure(spark, seconds, check)
    problems = []
    if w.kind == "pipeline":
        ledger_pass = samples[-1]
        ledger_wall = statistics.median(s["wall_s"] for s in samples)
        write_s = statistics.median(s["write_s"] for s in samples)
        agg_s = statistics.median(s["agg_s"] for s in samples)
        agg_windows = [s["epoch_agg"] for s in samples]
    else:
        # the ledger prices one plain pipeline pass over the same corpus
        ledger_pass = bench.pipeline_pass(spark)
        ledger_pass["check"] = checks.check_pipeline_pass(
            ledger_pass["out"], ledger_pass["summary"], w.n_docs
        )
        problems += ledger_pass["check"]["problems"]
        ledger_wall = ledger_pass["wall_s"]
        write_s = ledger_pass["write_s"]
        agg_s = ledger_pass["agg_s"]
        agg_windows = [ledger_pass["epoch_agg"]]
    floors = probe_floors(spark, bench.corpus)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    events = EventLog(os.path.join(bench.work, "events"))
    if not events.executions:
        problems.append(f"no SQL executions in the event log of {app_id}")

    kernels = kernel_pass(bench.corpus, ledger_pass["out"], w.n_docs,
                          w.skew_every, bench.seed)
    problems += [f"kernel cross-check: {m}" for m in kernels["mismatches"]]

    passes = len(samples)
    py = defaultdict(float)
    tasks, udf_tails = [], []
    for s in samples:
        totals, stages = events.python_metrics(s["epoch"])
        for k, v in totals.items():
            py[k] += v / passes
        pass_tasks = events.tasks_in(s["epoch"])
        tasks += pass_tasks
        for stage in stages:
            durations = [t["duration"] for t in pass_tasks if t["stage"] == stage]
            if durations and statistics.median(durations) > 0:
                udf_tails.append(max(durations) / statistics.median(durations))
    if not udf_tails:
        problems.append("no ArrowEvalPython stage found in the event log")
    shuffle_bytes = sum(
        t["shuffle_bytes"] for win in agg_windows for t in events.tasks_in(win)
    ) / len(agg_windows)

    ckpt = dict.fromkeys(
        ("checkpoint.wave_s", "checkpoint.commit_s", "checkpoint.commit_jobs",
         "checkpoint.recomputed_docs", "checkpoint.lineage_rows",
         "checkpoint.resume_s"), 0.0,
    )
    if w.kind == "resume":
        for s in samples:
            for ex in events.executions_in(s["epoch"]):
                dur = (ex["end"] or ex["start"]) - ex["start"]
                if "ArrowEvalPython" in ex["plan"]:
                    ckpt["checkpoint.wave_s"] += dur / passes
                elif os.path.join(s["out"], "checkpoint") in ex["plan"] and (
                    "InsertIntoHadoopFsRelationCommand" in ex["plan"]
                ):
                    ckpt["checkpoint.commit_s"] += dur / passes
                    ckpt["checkpoint.commit_jobs"] += 1 / passes
            ckpt["checkpoint.recomputed_docs"] += events.python_metrics(
                s["epoch_resume"]
            )[0]["udfs.rows_returned"] / passes
        ckpt["checkpoint.lineage_rows"] = statistics.median(
            s["check"]["lineage_rows"] for s in samples
        )
        ckpt["checkpoint.resume_s"] = statistics.median(s["resume_s"] for s in samples)

    cpus = bench.cpus
    scan_s = floors["scan_s"]
    arrow_s = max(floors["arrow_s"] - scan_s, 0.0)
    write_only = write_s - floors["noop_s"]
    parts = {
        "scan": scan_s, "arrow": arrow_s, "kernel": kernels["kernel_s"] / cpus,
        "write": write_only, "agg": agg_s,
    }
    traced_wall = statistics.median(s["wall_s"] for s in samples)
    untraced_wall = statistics.median(s["wall_s"] for s in untraced)
    values = {
        "session.start_s": setup_samples[0]["start_s"],
        "session.warm_s": setup_samples[0]["warm_s"],
        "datagen.write_s": statistics.median(s["write_s"] for s in setup_samples),
        "pipeline.scan_floor_s": scan_s,
        "pipeline.write_s": write_only,
        "pipeline.span_mismatch": sum(
            s["check"]["failed"]
            for s in (samples if w.kind == "pipeline" else [ledger_pass])
        ),
        "udfs.arrow_floor_s": arrow_s,
        **{name: py[name] for name in PY_METRICS.values()},
        **{f"{k}.ms_per_doc": v for k, v in kernels["ms_per_doc"].items()},
        **kernels["counts"],
        "kernels.sample_docs": kernels["sample_docs"],
        "kernels.crosscheck_mismatch": len(kernels["mismatches"]),
        "skew.agg_s": agg_s,
        "skew.shuffle_bytes": shuffle_bytes,
        **ckpt,
        "spark.tasks": len(tasks) / passes,
        "spark.task_max_over_median": statistics.median(udf_tails) if udf_tails else 0.0,
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks) / passes,
        "spark.gc_s": sum(t["gc_s"] for t in tasks) / passes,
        "spark.task_failures": sum(t["failed"] for t in tasks) / passes,
        "ledger.wall_s": ledger_wall,
        "ledger.kernel_s": kernels["kernel_s"],
        **{f"ledger.{k}_share": v / ledger_wall for k, v in parts.items()},
        "ledger.unattributed_share": 1 - sum(parts.values()) / ledger_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.traced_wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        **{name: m["value"] for name, m in memory.items()},
    }
    missing = sorted(set(UNITS) - set(values))
    if missing:
        problems.append(f"per-layer metrics not measured: {missing}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in UNITS.items()
    }
    metrics["_samples"] = samples
    metrics["_problems"] = problems
    return metrics
