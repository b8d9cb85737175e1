"""Output checks and input properties for the benchmark, computed in DuckDB.

Every check re-derives what the program wrote from the parquet files it
wrote, with an engine other than Spark, and returns
``{"attempted", "failed", "span_equal_rate", "problems"}``:

- pipeline passes: one operation per document. A document fails when its
  row is missing or has ``span_equal = false``. The salted summary must
  equal a single-pass DuckDB re-aggregation of the per-doc parquet, and
  every doc_id must appear exactly once.
- resume passes: one operation per bucket. A bucket fails when it is
  uncommitted, lost (row counts off) or duplicated (lineage or doc rows)
  after the resume, or when its rows differ from those of an uninterrupted
  run (the pipeline over the whole corpus, rows tagged with their bucket).
"""

from __future__ import annotations

import math
import os

import duckdb

# the columns pipeline.aggregate_metrics sums (span_equal_int is derived)
SUMMARY_COLS = {
    "span_equal_int": "CAST(span_equal AS DOUBLE)",
    "f1_score": "f1_score",
    "edit_distance_score": "edit_distance_score",
    "bleu_score": "bleu_score",
    "teds_mean": "teds_mean",
    "map": '"map"',
}


def _doc_index(col: str = "doc_id") -> str:
    return f"CAST(substr({col}, 5) AS BIGINT)"


def _rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def same(a, b) -> bool:
    """Equal values, floats to 1e-9 relative; None and NaN match themselves."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def input_properties(corpus: str, skew_every: int) -> dict:
    """Docs, giant share of spans, spans/doc, table pairs/doc, corpus bytes."""
    files = [
        os.path.join(corpus, f) for f in os.listdir(corpus)
        if f.endswith(".parquet")
    ]
    giant = f"({_doc_index()} % {skew_every} = 0)"
    docs, spans, giant_spans, pairs = _rows(
        f"""SELECT count(*), sum(len(spans)),
                   sum(len(spans)) FILTER (WHERE {giant}),
                   sum(least(len(list_filter(spans, s -> s.kind = 'table')),
                             len(list_filter(pred_spans, s -> s.kind = 'table'))))
            FROM read_parquet('{corpus}/*.parquet')"""
    )[0]
    return {
        "docs": docs,
        "files": len(files),
        "giant_span_share": round((giant_spans or 0) / spans, 4),
        "spans_per_doc": round(spans / docs, 3),
        "table_pairs_per_doc": round(pairs / docs, 3),
        "corpus_bytes": sum(os.path.getsize(f) for f in files),
    }


def check_pipeline_pass(out: str, summary: dict, n_docs: int) -> dict:
    """Check one flagship-style pass: per-doc parquet at ``out`` and the
    salted summary row the pass collected."""
    aggs = []
    for name, expr in SUMMARY_COLS.items():
        aggs += [f"sum({expr})", f"count({expr})", f"min({expr})", f"max({expr})"]
    in_range = f"{_doc_index()} BETWEEN 0 AND {n_docs - 1}"
    row = _rows(
        f"""SELECT count(*), count(DISTINCT doc_id),
                   count(DISTINCT doc_id) FILTER (WHERE {in_range}),
                   count(DISTINCT doc_id) FILTER (WHERE {in_range} AND span_equal),
                   {", ".join(aggs)}
            FROM read_parquet('{out}/*.parquet')"""
    )[0]
    rows, distinct, valid, equal = row[:4]
    problems = []
    if rows != distinct:
        problems.append(f"{rows - distinct} duplicated doc rows")
    if valid != distinct:
        problems.append(f"{distinct - valid} doc_ids not in the corpus")
    if valid != n_docs:
        problems.append(f"{n_docs - valid} doc rows missing")
    vals = iter(row[4:])
    for name in SUMMARY_COLS:
        for stat in ("sum", "cnt", "min", "max"):
            want = next(vals)
            got = summary.get(f"{stat}_{name}")
            if not same(got, want):
                problems.append(
                    f"summary {stat}_{name}: salted {got} != re-aggregated {want}"
                )
    failed = n_docs - equal
    if failed:
        problems.append(f"{failed} docs missing or with span_equal = false")
    return {
        "attempted": n_docs,
        "failed": failed,
        "span_equal_rate": equal / n_docs,
        "problems": problems,
    }


def _metrics_sql(out: str) -> str:
    return (
        f"read_parquet('{out}/metrics/*/*.parquet', hive_partitioning = true)"
    )


def _lineage_sql(out: str) -> str:
    return f"read_parquet('{out}/checkpoint/*.parquet')"


def check_resume_pass(
    out: str, reference: str, n_docs: int, n_buckets: int, crashed: bool
) -> dict:
    """Check one crash-and-resume pass at ``out`` against the rows of an
    uninterrupted run at ``reference`` (flat parquet with a bucket column)."""
    problems = [] if crashed else ["the injected crash did not happen"]
    stats = {
        b: {"rows": 0, "docs": 0, "equal": 0, "lineage": 0, "n_docs": None,
            "want_rows": 0, "diff": 0}
        for b in range(n_buckets)
    }

    def per_bucket(sql: str, *fields: str) -> None:
        for b, *values in _rows(sql):
            if b not in stats:
                problems.append(f"rows in unknown bucket {b}")
            else:
                stats[b].update(zip(fields, values))

    metrics = _metrics_sql(out)
    ref = f"read_parquet('{reference}/*.parquet')"
    per_bucket(
        f"""SELECT bucket, count(*), count(DISTINCT doc_id),
                   count(*) FILTER (WHERE span_equal)
            FROM {metrics} GROUP BY bucket""",
        "rows", "docs", "equal",
    )
    per_bucket(
        f"""SELECT bucket, count(*),
                   CASE WHEN min(n_docs) = max(n_docs) THEN min(n_docs) END
            FROM {_lineage_sql(out)} GROUP BY bucket""",
        "lineage", "n_docs",
    )
    per_bucket(
        f"SELECT bucket, count(*) FROM {ref} GROUP BY bucket", "want_rows"
    )
    per_bucket(
        f"""WITH a AS (SELECT * FROM {metrics}),
                 r AS (SELECT * FROM {ref})
            SELECT bucket, count(*) FROM
              ((SELECT * FROM a EXCEPT ALL SELECT * FROM r)
               UNION ALL (SELECT * FROM r EXCEPT ALL SELECT * FROM a))
            GROUP BY bucket""",
        "diff",
    )
    shared_batches = _rows(
        f"""SELECT count(*) FROM (SELECT batch_id FROM {_lineage_sql(out)}
            GROUP BY batch_id HAVING count(DISTINCT bucket) > 1)"""
    )[0][0]
    if shared_batches:
        problems.append(f"{shared_batches} batch_ids name several buckets")

    failed = 0
    for b, st in stats.items():
        want = st["want_rows"]
        why = []
        if st["lineage"] == 0:
            why.append("uncommitted")
        elif st["lineage"] > 1:
            why.append(f"{st['lineage']} lineage rows")
        if st["rows"] != st["docs"]:
            why.append(f"{st['rows'] - st['docs']} duplicated doc rows")
        if st["lineage"] and (st["rows"] != want or st["n_docs"] != want):
            why.append(
                f"lost rows: {st['rows']} written, lineage says "
                f"{st['n_docs']}, uninterrupted run has {want}"
            )
        if st["diff"]:
            why.append(f"{st['diff']} rows differ from the uninterrupted run")
        if why:
            failed += 1
            problems.append(f"bucket {b}: " + "; ".join(why))
    written = sum(st["rows"] for st in stats.values())
    if written != n_docs:
        problems.append(f"{written} metric rows for {n_docs} docs")
    return {
        "attempted": n_buckets,
        "failed": failed,
        "span_equal_rate": sum(st["equal"] for st in stats.values()) / n_docs,
        "lineage_rows": sum(st["lineage"] for st in stats.values()),
        "problems": problems,
    }
