"""Extension API: register_metric → evaluate_samples / evaluate_dataset,
mirroring the reference BaseMetric contract (base_types.py:34-54). Each
test registers its own metric; kernels are defined inside the tests so
they ship to the Python workers by value."""

import pytest
from pyspark.sql import functions as F

from docling_metrics_spark.registry import register_metric


def test_hello_world_metric(spark):
    """The reference's hello-world template (hello_world_metric.py:37-92):
    a payload-equality score, the minimal end-to-end metric."""
    m = register_metric(
        "hello_world",
        ["payload_a", "payload_b"],
        "score double",
        lambda row: {"score": 1.0 if row["payload_a"] == row["payload_b"] else 0.0},
    )
    df = spark.createDataFrame(
        [("1", "x", "x"), ("2", "x", "y"), ("3", "z", "z")],
        "id string, payload_a string, payload_b string",
    )
    rows = m.evaluate_samples(df).orderBy("id").collect()
    assert [r.hello_world_scores.score for r in rows] == [1.0, 0.0, 1.0]
    agg = m.evaluate_dataset(df).collect()[0]
    assert agg.sample_count == 3
    assert agg.avg_score == pytest.approx(2 / 3)


def test_text_pair_via_registry_matches_kernel(spark):
    from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair

    m = register_metric(
        "text_pair",
        ["text_a", "text_b"],
        "f1_score double, precision_score double, recall_score double, "
        "edit_distance_score double, bleu_score double, meteor_score double",
        lambda row: evaluate_text_pair(
            row["text_a"] or "", row["text_b"] or ""
        ).__dict__,
    )
    pairs = [
        ("a", "the quick brown fox", "the quick brown fox"),
        ("b", "alpha beta gamma", "alpha gamma delta"),
        ("c", "one two three", ""),
    ]
    df = spark.createDataFrame(pairs, "id string, text_a string, text_b string")
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
    assert (m.name, m.input_cols) == ("len_ratio", ("text_a", "text_b"))
    df = spark.createDataFrame(
        [("aaaa", "aa")], "text_a string, text_b string"
    )
    out = m.evaluate_samples(df, out_col="s").select(F.col("s.ratio")).collect()
    assert out[0].ratio == 0.5


def test_teds_html_error_channel(spark):
    """A kernel that raises on one row degrades that row to an error
    struct: TEDS over two HTML tables, ``error`` set where parsing fails."""
    from docling_metrics_spark.kernels.teds import (
        html_to_tree,
        normalize_spans,
        tree_edit_distance,
    )

    def teds_kernel(row: dict) -> dict:
        try:
            ta, tb = (
                normalize_spans(html_to_tree(row[c])) for c in ("html_a", "html_b")
            )
            na, nb = ta.size(), tb.size()
            teds = 1.0 - tree_edit_distance(ta, tb) / max(na, nb)
        except ValueError:
            return {"teds": None, "nodes_a": None, "nodes_b": None, "error": 1}
        return {"teds": teds, "nodes_a": na, "nodes_b": nb, "error": 0}

    m = register_metric(
        "teds_html",
        ["html_a", "html_b"],
        "teds double, nodes_a int, nodes_b int, error int",
        teds_kernel,
    )
    df = spark.createDataFrame(
        [
            ("ok", "<table><tr><td>a</td></tr></table>",
             "<table><tr><td>a</td></tr></table>"),
            ("bad", "not a table", "<table><tr><td>a</td></tr></table>"),
        ],
        "id string, html_a string, html_b string",
    )
    rows = {r.id: r.s for r in m.evaluate_samples(df, "s").collect()}
    assert rows["ok"].teds == pytest.approx(1.0)
    assert rows["ok"].error == 0
    assert rows["bad"].error == 1 and rows["bad"].teds is None


def test_no_test_only_udfs_or_queries():
    """Every top-level function of every package module that is not
    ``@query``-registered must be referenced by non-test code — a name only
    tests keep alive verifies a program production never runs. A test's
    reference implementation lives in tests/reference_kernels.py."""
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

    def decorator_name(dec) -> str:
        fn = dec.func if isinstance(dec, ast.Call) else dec
        return fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")

    orphans = []
    n_defs = 0
    for path in sorted((root / "docling_metrics_spark").rglob("*.py")):
        for fn in ast.parse(path.read_text(encoding="utf-8")).body:
            if not isinstance(fn, ast.FunctionDef) or any(
                decorator_name(d) == "query" for d in fn.decorator_list
            ):
                continue
            n_defs += 1
            if fn.name not in referenced:
                orphans.append(f"{path.relative_to(root).as_posix()}::{fn.name}")
    assert n_defs > 100, "too few functions found: the scan itself is broken"
    assert not orphans, "package functions only tests use:\n" + "\n".join(orphans)


def test_no_single_valued_defaults():
    """Every parameter with a default in a query, operator, stream, export,
    extraction, session, media, checkpoint, pipeline, datagen, registry,
    cache or shipping function is passed by some caller outside the tests
    (by keyword, by position or by ``**`` forwarding). The kernels keep
    defaults that mirror the reference's signatures. A default no production
    caller overrides is one value spelled twice, once as the default and
    once wherever it is checked (an oracle's literal): it belongs in one
    module constant instead. A caller that forwards its own parameter of
    the same name (or an enclosing function's) does not count."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = root / "docling_metrics_spark"
    scanned = [
        pkg / f"{m}.py"
        for m in ("session", "multimodal", "checkpoint", "pipeline", "datagen",
                  "registry", "cache", "shipping")
    ]
    for d in ("plans", "operators", "streaming", "export", "extraction"):
        scanned += sorted((pkg / d).rglob("*.py"))
    callers = [root / "__spark_entry__.py", root / "bench.py"]
    for d in ("docling_metrics_spark", "tools", "perfbench"):
        callers += sorted((root / d).rglob("*.py"))

    # (function name, parameter) -> positional index, None if keyword-only
    defaults: dict[tuple[str, str], int | None] = {}
    where: dict[tuple[str, str], str] = {}
    for path in scanned:
        rel = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            keyed = {p: pos.index(p) for p in pos[len(pos) - len(a.defaults):]}
            keyed.update(
                (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            )
            for p, idx in keyed.items():
                defaults[(fn.name, p)] = idx
                where[(fn.name, p)] = rel
    assert len(defaults) >= 5, "too few defaults found: the scan is broken"

    def own_params(fn) -> set[str]:
        a = fn.args
        return {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}

    passed: set[tuple[str, str]] = set()

    def visit(node, params: set[str]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            params = params | own_params(node)  # closures forward too
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

            def forwards(value, p: str) -> bool:
                return isinstance(value, ast.Name) and value.id == p and p in params

            for (fname, p), idx in defaults.items():
                if fname != name:
                    continue
                for kw in node.keywords:
                    if kw.arg is None or (kw.arg == p and not forwards(kw.value, p)):
                        passed.add((fname, p))
                if idx is not None and not any(
                    isinstance(x, ast.Starred) for x in node.args[: idx + 1]
                ) and len(node.args) > idx and not forwards(node.args[idx], p):
                    passed.add((fname, p))
        for child in ast.iter_child_nodes(node):
            visit(child, params)

    for path in callers:
        visit(ast.parse(path.read_text(encoding="utf-8")), set())
    unset = sorted(
        f"{where[k]}::{k[0]}.{k[1]}" for k in defaults if k not in passed
    )
    assert not unset, (
        "defaults no caller outside the tests overrides (make each a module "
        "constant):\n" + "\n".join(unset)
    )
