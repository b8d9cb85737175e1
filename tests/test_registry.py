"""Extension API: register_metric → evaluate_samples / evaluate_dataset,
mirroring the reference BaseMetric contract (base_types.py:34-54)."""

import pytest
from pyspark.sql import functions as F

from docling_metrics_spark.registry import all_metrics, get_metric, register_metric


def test_builtin_metrics_registered():
    names = set(all_metrics())
    assert {"text_pair", "teds_html", "hello_world"} <= names


def test_hello_world_metric(spark):
    df = spark.createDataFrame(
        [("1", "x", "x"), ("2", "x", "y"), ("3", "z", "z")],
        "id string, payload_a string, payload_b string",
    )
    m = get_metric("hello_world")
    rows = m.evaluate_samples(df).orderBy("id").collect()
    assert [r.hello_world_scores.score for r in rows] == [1.0, 0.0, 1.0]
    agg = m.evaluate_dataset(df).collect()[0]
    assert agg.sample_count == 3
    assert agg.avg_score == pytest.approx(2 / 3)


def test_text_pair_via_registry_matches_kernel(spark):
    from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair

    pairs = [
        ("a", "the quick brown fox", "the quick brown fox"),
        ("b", "alpha beta gamma", "alpha gamma delta"),
        ("c", "one two three", ""),
    ]
    df = spark.createDataFrame(pairs, "id string, text_a string, text_b string")
    m = get_metric("text_pair")
    got = {
        r.id: r.s for r in m.evaluate_samples(df, out_col="s").orderBy("id").collect()
    }
    for id_, a, b in pairs:
        want = evaluate_text_pair(a, b)
        assert got[id_].f1_score == pytest.approx(want.f1_score)
        assert got[id_].edit_distance_score == pytest.approx(
            want.edit_distance_score
        )
        assert got[id_].meteor_score == pytest.approx(want.meteor_score)


def test_custom_metric_registration(spark):
    m = register_metric(
        "len_ratio",
        ["text_a", "text_b"],
        "ratio double",
        lambda row: {
            "ratio": len(row["text_b"] or "") / max(len(row["text_a"] or ""), 1)
        },
    )
    df = spark.createDataFrame(
        [("aaaa", "aa")], "text_a string, text_b string"
    )
    out = m.evaluate_samples(df, out_col="s").select(F.col("s.ratio")).collect()
    assert out[0].ratio == 0.5


def test_teds_html_error_channel(spark):
    df = spark.createDataFrame(
        [
            ("ok", "<table><tr><td>a</td></tr></table>",
             "<table><tr><td>a</td></tr></table>"),
            ("bad", "not a table", "<table><tr><td>a</td></tr></table>"),
        ],
        "id string, html_a string, html_b string",
    )
    m = get_metric("teds_html")
    rows = {r.id: r.s for r in m.evaluate_samples(df, "s").collect()}
    assert rows["ok"].teds == pytest.approx(1.0)
    assert rows["ok"].error == 0
    assert rows["bad"].error == 1 and rows["bad"].teds is None


def test_no_test_only_udfs_or_queries():
    """Every module-level pandas_udf and ``make_*_udf`` factory in
    operators/udfs.py, and every public top-level function in
    plans/queries.py that is not ``@query``-registered, must be referenced
    by non-test code — a name only tests keep alive verifies a program
    production never runs."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sources = [root / "__spark_entry__.py", root / "bench.py"]
    for d in ("docling_metrics_spark", "tools", "perfbench"):
        sources += sorted((root / d).rglob("*.py"))
    referenced: set[str] = set()
    for path in sources:
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                referenced.update(a.name for a in node.names)

    def top_level_defs(rel: str):
        tree = ast.parse((root / rel).read_text(encoding="utf-8"))
        return [n for n in tree.body if isinstance(n, ast.FunctionDef)]

    def decorator_name(dec) -> str:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        return fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")

    pkg = "docling_metrics_spark"
    udfs = [
        fn.name for fn in top_level_defs(f"{pkg}/operators/udfs.py")
        if any(decorator_name(d) == "pandas_udf" for d in fn.decorator_list)
        or (fn.name.startswith("make_") and fn.name.endswith("_udf"))
    ]
    assert udfs, "no UDFs found: the scan itself is broken"
    assert sorted(set(udfs) - referenced) == []

    queries = [
        fn.name for fn in top_level_defs(f"{pkg}/plans/queries.py")
        if not fn.name.startswith("_")
        and not any(decorator_name(d) == "query" for d in fn.decorator_list)
    ]
    assert sorted(set(queries) - referenced) == []
