"""End-to-end Spark pipeline tests: extraction equality, metric parity vs
the single-process oracle, summary-aggregation correctness, checkpoint
resume."""

import math
import re

import pytest
from pyspark.sql import functions as F

from docling_metrics_spark.datagen import gen_document, generate_documents_df
from docling_metrics_spark.extraction import extract_spans_from_html
from docling_metrics_spark.kernels.layout import evaluate_map
from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair
from docling_metrics_spark.operators.udfs import slot_sum
from docling_metrics_spark.pipeline import METRIC_COLS, aggregate_metrics, run_pipeline
from reference_kernels import merged_map_local

N_DOCS = 120
REL = 1e-6


@pytest.fixture(scope="module")
def docs(spark):
    df = generate_documents_df(spark, N_DOCS, partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def per_doc(spark, docs):
    df = run_pipeline(docs).cache()
    df.count()
    return df


def test_span_equality_all_docs(spark, per_doc):
    """North-rule gate: distributed extraction == reference spans, exactly
    (the fused flagship UDF's extraction, compared JVM-side)."""
    n_total = per_doc.count()
    n_equal = per_doc.filter("span_equal").count()
    assert n_total == N_DOCS
    assert n_equal == N_DOCS


def test_metric_parity_vs_oracle(spark, per_doc):
    """Spark per-doc scores == single-process oracle at rel-tol 1e-6."""
    rows = {r.doc_id: r for r in per_doc.collect()}
    for doc in map(gen_document, range(N_DOCS)):
        spans = extract_spans_from_html(doc["raw_html"])
        gt_text = " ".join(s["text"] for s in spans if s["text"] is not None)
        pred_text = " ".join(
            s["text"] for s in doc["pred_spans"] if s["text"] is not None
        )
        oracle = evaluate_text_pair(gt_text, pred_text)
        got = rows[doc["doc_id"]]
        assert got.edit_distance_score == pytest.approx(
            oracle.edit_distance_score, rel=REL
        ), doc["doc_id"]
        assert got.f1_score == pytest.approx(oracle.f1_score, rel=REL)
        assert got.bleu_score == pytest.approx(oracle.bleu_score, rel=REL)

        gt_b = [(b["category_id"], b["bbox"]) for b in doc["gt_boxes"]]
        pr_b = [
            (b["category_id"], b["bbox"], b["score"]) for b in doc["pred_boxes"]
        ]
        om = evaluate_map(gt_b, pr_b)
        if om["map"] == om["map"]:  # not NaN
            assert got.map == pytest.approx(om["map"], rel=REL), doc["doc_id"]
        else:
            assert got.map is None or got.map != got.map

        # TEDS through the fused flagship UDF == the standalone kernel path
        from docling_metrics_spark.operators.udfs import _doc_teds

        def _tables(spans):
            ts = sorted(
                (s for s in spans if s["kind"] == "table"),
                key=lambda s: s["offset"],
            )
            return [s["text"] for s in ts]

        ot = _doc_teds(_tables(spans), _tables(doc["pred_spans"]))
        if ot["teds_mean"] is None:
            assert got.teds_mean is None, doc["doc_id"]
        else:
            assert got.teds_mean == pytest.approx(ot["teds_mean"], rel=REL)
        assert got.teds_pairs == ot["n_pairs"]
        assert got.teds_errors == ot["error_count"]


def test_span_equality_holds_for_any_corpus_seed(spark):
    """Extraction must round-trip the renderer exactly for ANY corpus seed
    — the north-rule invariant is a property of the extractor, not of the
    default fixture."""
    for seed in (7, 123):
        docs = generate_documents_df(spark, 300, seed=seed)
        r = run_pipeline(docs).agg(
            F.count("*").alias("n"),
            F.sum(F.col("span_equal").cast("int")).alias("eq"),
        ).collect()[0]
        assert r.eq == r.n == 300, seed


def test_pipeline_partition_invariance(spark, docs):
    """Per-document results must be bit-identical regardless of how the
    corpus is partitioned — the property that makes the job's output stable
    across cluster sizes, speculative re-execution, and resume (every
    kernel is a pure per-row function; any partition-dependent state would
    break this)."""
    a = {r.doc_id: r for r in run_pipeline(docs.repartition(2)).collect()}
    b = {r.doc_id: r for r in run_pipeline(docs.repartition(7)).collect()}
    assert set(a) == set(b) and len(a) == N_DOCS
    for k in a:
        assert a[k] == b[k], k


def test_aggregate_metrics_summary(spark, per_doc):
    row = aggregate_metrics(per_doc).collect()[0]
    assert row["sum_span_equal_int"] == N_DOCS  # all docs extracted exactly
    assert 0.0 <= row["avg_edit_distance_score"] <= 1.0
    assert row["cnt_f1_score"] == N_DOCS


def test_aggregate_metrics_equals_naive_fold(spark, per_doc):
    """The two-stage summary == a single-process fold over the per-doc
    rows, for every summed column (null-skipping, as SQL aggregates are)."""
    row = aggregate_metrics(per_doc).collect()[0]
    docs = per_doc.collect()
    for c in ["span_equal_int"] + METRIC_COLS:
        src = "span_equal" if c == "span_equal_int" else c
        vals = [float(r[src]) for r in docs if r[src] is not None]
        assert vals, c
        assert row[f"sum_{c}"] == pytest.approx(math.fsum(vals), rel=1e-12), c
        assert row[f"cnt_{c}"] == len(vals), c
        assert row[f"avg_{c}"] == pytest.approx(
            math.fsum(vals) / len(vals), rel=1e-12
        ), c
        assert row[f"min_{c}"] == min(vals), c
        assert row[f"max_{c}"] == max(vals), c


def test_aggregate_metrics_partition_invariance(spark, per_doc):
    """One input partition or seven: the same summary (counts, min and max
    exactly; sums and means up to summation order)."""
    one = aggregate_metrics(per_doc.repartition(1)).collect()[0].asDict()
    seven = aggregate_metrics(per_doc.repartition(7)).collect()[0].asDict()
    assert list(one) == list(seven)
    for k in one:
        if k.startswith(("sum_", "avg_")):
            assert one[k] == pytest.approx(seven[k], rel=1e-12), k
        else:
            assert one[k] == seven[k], k


def test_aggregate_metrics_empty_input_matches_duckdb(spark, docs, tmp_path):
    """An empty per-doc table summarises to the DuckDB re-aggregation of
    it: every cnt_ is 0 (SQL count over no rows), every other value null."""
    import duckdb

    from docling_metrics_spark.plans.queries import (
        _rounded_summary,
        _summary_oracle_sql,
    )

    path = str(tmp_path / "per_doc_empty")
    spark.createDataFrame([], run_pipeline(docs).schema).write.parquet(path)
    got = _rounded_summary(aggregate_metrics(spark.read.parquet(path)))
    want = duckdb.sql(_summary_oracle_sql(path))
    assert got.columns == want.columns
    got_row, want_row = tuple(got.collect()[0]), want.fetchone()
    assert got_row == want_row
    for name, v in zip(got.columns, got_row):
        assert v == (0 if name.startswith("cnt_") else None), name


def test_slot_sum(spark):
    data = [([1.0, 2.0, 3.0],), ([10.0, 20.0, 30.0],), ([100.0, 200.0, 300.0],)]
    df = spark.createDataFrame(data, "arr array<double>")
    got = df.agg(slot_sum("arr", 3).alias("summed")).collect()[0].summed
    assert got == [111.0, 222.0, 333.0]

    # an empty input sums to zeros, not NULL slots
    empty = spark.createDataFrame([], "arr array<double>")
    got = empty.agg(slot_sum("arr", 3).alias("summed")).collect()[0].summed
    assert got == [0.0, 0.0, 0.0]


def test_checkpoint_resume(spark, docs, tmp_path):
    """Kill after K buckets, rerun, assert no recomputation + identical finals."""
    from docling_metrics_spark.checkpoint import (
        read_checkpoint,
        read_metrics,
        run_checkpointed,
    )

    out_full = str(tmp_path / "full")
    out_resume = str(tmp_path / "resume")

    n = run_checkpointed(spark, docs, out_full, n_buckets=4)
    assert n == 4

    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, docs, out_resume, n_buckets=4, fail_after_buckets=2)
    assert len(read_checkpoint(spark, out_resume).collect()) == 2

    # committed buckets' output must be untouched by the resumed run — the
    # resume filter excludes them from the single input pass, and dynamic
    # partition overwrite only replaces the buckets present in the data
    import os as _os

    committed = sorted(
        r.bucket for r in read_checkpoint(spark, out_resume).collect()
    )
    def _mtimes(bucket):
        d = f"{out_resume}/metrics/bucket={bucket}"
        return {f: _os.path.getmtime(_os.path.join(d, f))
                for f in _os.listdir(d) if f.endswith(".parquet")}
    before = {b: _mtimes(b) for b in committed}

    n2 = run_checkpointed(spark, docs, out_resume, n_buckets=4)
    assert n2 == 2  # only the 2 uncommitted buckets recomputed
    for b in committed:
        assert _mtimes(b) == before[b], f"bucket {b} was rewritten on resume"

    full = {r.doc_id: r for r in read_metrics(spark, out_full).collect()}
    resumed = {r.doc_id: r for r in read_metrics(spark, out_resume).collect()}
    assert set(full) == set(resumed) and len(full) == N_DOCS
    for k in full:
        assert full[k].edit_distance_score == resumed[k].edit_distance_score
        assert full[k].span_equal == resumed[k].span_equal

    ckpt = read_checkpoint(spark, out_resume)
    assert {r.batch_id for r in ckpt.collect()} == {
        f"corpus:{b}" for b in range(4)
    }


def test_checkpoint_leaves_session_overwrite_mode_alone(
    spark, docs, tmp_path, monkeypatch
):
    """Dynamic partition overwrite is the bucket write's own option: the
    session-wide ``partitionOverwriteMode`` keeps its value while a run
    commits and after a run that crashes, so no other write in the session
    sees it change."""
    from docling_metrics_spark import checkpoint

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    seen = []
    commit = checkpoint._commit_lineage

    def observed_commit(*args):
        seen.append(spark.conf.get(key))
        commit(*args)

    monkeypatch.setattr(checkpoint, "_commit_lineage", observed_commit)
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_checkpointed(
            spark, docs, str(tmp_path / "out"), n_buckets=4, fail_after_buckets=2
        )
    assert seen == [before, before]
    assert spark.conf.get(key) == before


def _parquet_mtimes(out_dir):
    """{bucket dir: {file: mtime}} of every written metric bucket."""
    import os

    metrics = os.path.join(out_dir, "metrics")
    return {
        b: {
            f: os.path.getmtime(os.path.join(metrics, b, f))
            for f in os.listdir(os.path.join(metrics, b))
            if f.endswith(".parquet")
        }
        for b in os.listdir(metrics)
        if b.startswith("bucket=")
    }


def test_checkpoint_corrupt_lineage_fails_loudly(spark, docs, tmp_path):
    """An unreadable lineage file must stop the resume with an error naming
    it — not read as "nothing committed" and silently recompute (and
    re-commit) every bucket."""
    from docling_metrics_spark.checkpoint import run_checkpointed

    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, docs, out, n_buckets=4, fail_after_buckets=2)
    bad = tmp_path / "out" / "checkpoint" / "x.parquet"
    bad.write_bytes(b"not a parquet file")
    before = _parquet_mtimes(out)
    assert len(before) == 4

    with pytest.raises(RuntimeError, match=re.escape(str(bad))):
        run_checkpointed(spark, docs, out, n_buckets=4)
    assert _parquet_mtimes(out) == before


def test_checkpoint_lineage_idempotent_on_batch_id(spark, docs, tmp_path, monkeypatch):
    """Re-committing a batch replaces its lineage row: after a crash, a
    resume that does not see the committed buckets (``committed_buckets``
    forced empty) re-commits them, and still leaves exactly one row per
    bucket, for Spark and for DuckDB, with the CHECKPOINT_SCHEMA types on
    disk."""
    import duckdb

    from docling_metrics_spark import checkpoint
    from docling_metrics_spark.checkpoint import (
        read_checkpoint,
        read_metrics,
        run_checkpointed,
    )

    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, docs, out, n_buckets=4, fail_after_buckets=2)
    with monkeypatch.context() as m:
        m.setattr(checkpoint, "committed_buckets", lambda *a: set())
        assert run_checkpointed(spark, docs, out, n_buckets=4) == 4

    want = {(f"corpus:{b}", b) for b in range(4)}
    rows = read_checkpoint(spark, out).collect()
    assert sorted((r.batch_id, r.bucket) for r in rows) == sorted(want)
    written = read_metrics(spark, out).groupBy("bucket").count().collect()
    assert {r.bucket: r.n_docs for r in rows} == {
        r.bucket: r["count"] for r in written
    }
    # the types written on disk are CHECKPOINT_SCHEMA's, not just cast to it
    assert (
        spark.read.parquet(f"{out}/checkpoint").schema.simpleString()
        == read_checkpoint(spark, out).schema.simpleString()
        == "struct<batch_id:string,bucket:int,n_docs:bigint,committed_at:double>"
    )

    lineage = f"read_parquet('{out}/checkpoint/*.parquet')"
    con = duckdb.connect()
    got = con.execute(f"SELECT batch_id, bucket FROM {lineage}").fetchall()
    assert sorted(got) == sorted(want)
    assert [
        (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {lineage}").fetchall()
    ] == [("batch_id", "VARCHAR"), ("bucket", "INTEGER"), ("n_docs", "BIGINT"),
          ("committed_at", "DOUBLE")]


def test_checkpoint_commit_jobs_do_not_grow_with_buckets(spark, docs, tmp_path):
    """Lineage commits launch no Spark job: a fresh 8-bucket run starts as
    many jobs as a 2-bucket run."""
    from docling_metrics_spark.checkpoint import run_checkpointed

    sc = spark.sparkContext

    def jobs(n_buckets):
        group = f"ckpt-jobs-{n_buckets}"
        sc.setJobGroup(group, "checkpoint job-count guard")
        try:
            run_checkpointed(
                spark, docs, str(tmp_path / f"b{n_buckets}"), n_buckets=n_buckets
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(8) == jobs(2) > 0


def test_teds_error_channel(spark):
    """Malformed table HTML inside spans must not kill the job — the
    per-pair TEDS UDF scores the pair 0 and flags it in ``err``
    (reference error_id channel analog)."""
    from docling_metrics_spark.operators.udfs import teds_pairs_detail_udf

    df = spark.createDataFrame(
        [(["<table><tr><td>a</td></tr></table>"], ["<table"],)],
        "gt array<string>, pred array<string>",
    )
    row = df.select(teds_pairs_detail_udf("gt", "pred").alias("t")).collect()[0].t
    assert len(row) == 1
    assert row[0].idx == 0 and row[0].err is True and row[0].score == 0.0


def test_worker_task_setup_does_not_reread_zips(spark):
    """pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. In a worker that has imported the package, that call must
    leave every zip archive's cached directory as it is: pyspark.zip and the
    spark-core jar are unchanged, so re-reading them is waste."""
    import pandas as pd

    @F.pandas_udf("struct<unchanged:boolean,zips:int>")
    def probe(v: pd.Series) -> pd.DataFrame:
        import importlib
        import sys
        import zipimport

        import docling_metrics_spark  # noqa: F401

        zips = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        held = {a: zipimport._zip_directory_cache.get(a) for a in zips}
        importlib.invalidate_caches()
        unchanged = all(
            d is not None and zipimport._zip_directory_cache.get(a) is d
            for a, d in held.items()
        )
        return pd.DataFrame({"unchanged": [unchanged] * len(v), "zips": len(zips)})

    rows = (
        spark.range(8, numPartitions=8)
        .select(probe("id").alias("p"))
        .select("p.*")
        .collect()
    )
    assert len(rows) == 8
    assert all(r.unchanged for r in rows), rows
    assert all(r.zips >= 1 for r in rows), rows


def _dataset_map_df(stats):
    """The ``layout_map_dataset`` plan over ``stats`` without its table
    write: the pooled AP table, then the dataset surface."""
    from docling_metrics_spark.plans.queries import _map_surface, _pooled_aps

    return _map_surface(_pooled_aps(stats), [], None)


def test_dataset_map_matches_local(spark):
    """Distributed pooled mAP (the production ``layout_map_dataset`` plan) ==
    single-process merged oracle, all 12 scalars + per-class dicts."""
    import json

    from docling_metrics_spark.plans.queries import _match_stats_rows

    local_docs = [gen_document(i) for i in range(200)]
    args = [
        (
            [(b["category_id"], b["bbox"]) for b in d["gt_boxes"]],
            [(b["category_id"], b["bbox"], b["score"]) for b in d["pred_boxes"]],
        )
        for d in local_docs
    ]
    want = merged_map_local(args)
    got = _dataset_map_df(
        _match_stats_rows(generate_documents_df(spark, 200))
    ).collect()[0]

    # the query rounds to 6 decimals, hence the 5e-7 tolerance
    for k in ("map", "map_50", "map_75", "map_small", "map_medium",
              "map_large", "mar_1", "mar_10", "mar_100", "mar_small",
              "mar_medium", "mar_large"):
        g = got[k]
        w = want[k]
        if w == -1.0:  # no in-range GT anywhere → null in Spark
            assert g is None, k
        else:
            assert g is not None and abs(g - w) < 5.01e-7, (k, g, w)

    for col in ("map_per_class", "mar_100_per_class"):
        got_d = json.loads(got[col])
        assert set(got_d) == set(want[col]), col
        for cat, w in want[col].items():
            assert abs(float(got_d[cat]) - w) < 5.01e-7, (col, cat)


def test_dataset_map_ignores_input_row_order(spark):
    """Pooled AP breaks score ties by doc_id, then rank within the document
    (pycocotools' image-id order), whatever order the rows arrive in. The
    500 generated docs (seed 42) round scores to 4 decimals, so their pools
    hold ties: read in descending doc_id order from one partition, or
    spread over 7 partitions, they give the rows of the generated order,
    and those equal the doc-order pooling of ``merged_map_local``."""
    import json

    from docling_metrics_spark.plans.queries import _match_stats_rows

    stats = _match_stats_rows(generate_documents_df(spark, 500, seed=42)).cache()
    rows = [
        _dataset_map_df(s).collect()
        for s in (stats,
                  stats.orderBy(F.desc("doc_id")).coalesce(1),
                  stats.repartition(7))
    ]
    stats.unpersist()
    assert rows[0] == rows[1] == rows[2]

    want = merged_map_local([
        (
            [(b["category_id"], b["bbox"]) for b in d["gt_boxes"]],
            [(b["category_id"], b["bbox"], b["score"]) for b in d["pred_boxes"]],
        )
        for d in (gen_document(i, seed=42) for i in range(500))
    ])
    got = rows[0][0]
    for k in ("map", "map_50", "map_75", "map_large", "mar_1", "mar_10",
              "mar_100", "mar_large"):
        assert abs(got[k] - want[k]) < 5.01e-7, (k, got[k], want[k])
    for cat, w in want["map_per_class"].items():
        assert abs(float(json.loads(got["map_per_class"])[cat]) - w) < 5.01e-7, cat


def test_dataset_map_single_doc_equals_per_doc(spark):
    """On a one-document corpus the pooled dataset path must equal the
    per-document full surface (the evaluate_map kernel, run here in the
    driver on the collected row) field-by-field (VERDICT r2 #6) — the same
    consistency pattern the reference's benchmark doubles as
    (edit_distance_benchmark.py:90-102). Dataset values are rounded to 6
    decimals in-query, hence the 1e-6 tolerance."""
    from docling_metrics_spark.datagen import BOXES_SCHEMA_DDL

    one = (
        generate_documents_df(spark, 30)
        .filter((F.size("gt_boxes") > 0) & (F.size("pred_boxes") > 0))
        .orderBy("doc_id")
        .limit(1)
        .cache()
    )
    assert one.count() == 1
    _assert_one_doc_dataset_equals_per_doc(one)
    one.unpersist()

    # a class whose only box is inverted (x2 < x1) has an empty "all"
    # bucket: the per-doc surface keeps its key at -1.0, so must the pool
    degenerate = spark.createDataFrame(
        [(
            "degenerate",
            [(1, [0.0, 0.0, 50.0, 50.0], None),
             (2, [100.0, 100.0, 60.0, 160.0], None)],
            [(1, [0.0, 0.0, 50.0, 50.0], 0.9),
             (2, [100.0, 100.0, 60.0, 160.0], 0.8)],
        )],
        f"doc_id string, gt_boxes {BOXES_SCHEMA_DDL}, "
        f"pred_boxes {BOXES_SCHEMA_DDL}",
    )
    _assert_one_doc_dataset_equals_per_doc(degenerate)


def _assert_one_doc_dataset_equals_per_doc(one):
    import json

    from docling_metrics_spark.operators.udfs import _gt_tuples, _pred_tuples
    from docling_metrics_spark.plans.queries import _match_stats_rows

    doc = one.collect()[0]
    per = evaluate_map(_gt_tuples(doc.gt_boxes), _pred_tuples(doc.pred_boxes))
    ds = _dataset_map_df(_match_stats_rows(one)).collect()[0]

    for k in ("map", "map_50", "map_75", "map_small", "map_medium",
              "map_large", "mar_1", "mar_10", "mar_100", "mar_small",
              "mar_medium", "mar_large"):
        want = per[k]
        got = ds[k]
        if want == -1.0:  # per-doc sentinel ⇔ dataset null (empty pool)
            assert got is None, (k, got)
        else:
            assert got is not None and abs(got - want) < 1.01e-6, (k, got, want)

    for col in ("map_per_class", "mar_100_per_class"):
        want_d = per[col]
        got_d = json.loads(ds[col])
        assert set(want_d) == set(got_d), col
        for cat, want in want_d.items():
            # dataset JSON values are "%.6f" strings; -1.000000 = empty
            # pool, matching the per-doc surface's -1.0 sentinel
            got = float(got_d[cat])
            assert abs(got - want) < 1.01e-6, (col, cat, got, want)
