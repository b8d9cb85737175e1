"""Cross-kernel fuzz: every Arrow-batch kernel must, on arbitrary input,
either return a result or raise ValueError (the error-channel contract) —
never RecursionError / MemoryError / unbounded time. One bad row must
degrade one row, not the task (see README scale notes)."""

from hypothesis import given, settings
from hypothesis import strategies as st

import docling_metrics_spark.kernels.teds as T
from docling_metrics_spark.extraction.html_extract import extract_spans_from_html
from docling_metrics_spark.kernels.grits import html_to_cells
from docling_metrics_spark.kernels.minhash import simhash
from docling_metrics_spark.kernels.textmetrics import evaluate_text_pair
from reference_kernels import grits

html_soup = st.text(
    alphabet=st.sampled_from(list("<>/tabledivrspn=\"'0123456789 xyz&#;")),
    max_size=200,
)


@given(html_soup)
@settings(max_examples=120, deadline=None)
def test_extraction_never_crashes(s):
    spans = extract_spans_from_html(s)
    assert isinstance(spans, list)


@given(html_soup)
@settings(max_examples=120, deadline=None)
def test_table_parsers_raise_only_value_error(s):
    for fn in (T.html_to_bracket, html_to_cells):
        try:
            fn(s)
        except ValueError:
            pass


@given(
    st.text(alphabet=st.sampled_from(list('{}tagd:", []0123456789x')), max_size=120)
)
@settings(max_examples=120, deadline=None)
def test_bracket_parser_raises_only_value_error(s):
    try:
        T.bracket_to_tree(s)
    except ValueError:
        pass


@given(st.text(max_size=150), st.text(max_size=150))
@settings(max_examples=100, deadline=None)
def test_text_metrics_never_crash(a, b):
    scores = evaluate_text_pair(a, b)
    assert -1.0 <= scores.edit_distance_score <= 1.0 or scores.edit_distance_score == -1.0


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_simhash_total(s):
    assert 0 <= simhash(s.split()) < 1 << 64


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "row_nums": st.lists(
                    st.integers(0, 30), min_size=1, max_size=3
                ),
                "column_nums": st.lists(
                    st.integers(0, 30), min_size=1, max_size=3
                ),
                "cell_text": st.text(max_size=10),
                "bbox": st.lists(
                    st.floats(0, 100, allow_nan=False), min_size=4, max_size=4
                ),
            }
        ),
        max_size=6,
    ),
    st.lists(
        st.fixed_dictionaries(
            {
                "row_nums": st.lists(
                    st.integers(0, 30), min_size=1, max_size=3
                ),
                "column_nums": st.lists(
                    st.integers(0, 30), min_size=1, max_size=3
                ),
                "cell_text": st.text(max_size=10),
                "bbox": st.lists(
                    st.floats(0, 100, allow_nan=False), min_size=4, max_size=4
                ),
            }
        ),
        max_size=6,
    ),
)
@settings(max_examples=50, deadline=None)
def test_grits_on_arbitrary_cells(cells_a, cells_b):
    for task in ("topology", "content", "location"):
        assert 0.0 <= grits(cells_a, cells_b, task) <= 1.0


def _boxes(n, with_score):
    """``n`` identical 10×10 boxes over 5 classes, as a Spark column."""
    from pyspark.sql import functions as F

    return F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.struct(
            F.pmod(i, F.lit(5)).cast("int").alias("category_id"),
            F.array(
                F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0)
            ).alias("bbox"),
            *(
                [(i.cast("double") / 1e6).alias("score")]
                if with_score
                else []
            ),
        ),
    )


def test_map_udf_hostile_box_count_degrades_one_row(spark):
    """The 100k-box refusal must surface END-TO-END through the long-form
    mAP UDF as an empty list — one hostile document degrades one row,
    never the task (VERDICT r2 #8). ``match_stats_udf`` feeds both the
    per-doc ``layout_map`` surface, where the refused document scores the
    −1.0 / "{}" sentinel row, and the dataset-level ``layout_map_dataset``
    pools. The healthy sibling row in the same Arrow batch scores
    normally."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.operators.udfs import match_stats_udf
    from docling_metrics_spark.plans.queries import (
        _MAP_SURFACE_SPECS,
        _map_doc_pools,
        _map_surface,
        _match_stats_rows,
    )

    df = spark.range(2).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, _boxes(60_000, False))
        .otherwise(_boxes(1, False))
        .alias("gt_boxes"),
        F.when(F.col("id") == 0, _boxes(60_000, True))
        .otherwise(_boxes(1, True))
        .alias("pred_boxes"),
    ).repartition(1)

    stats = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", match_stats_udf("gt_boxes", "pred_boxes").alias("s")
        ).collect()
    }
    assert stats[0] == []  # refusal, not 12,000×100 IoU matrices per class
    all_area = [e for e in stats[1] if e.area == "all"]
    assert len(all_area) == 10  # one entry per IoU threshold
    assert all(e.tp == [1] and e.n_gt == 1 and e.ap == 1.0 for e in all_area)

    surface = {
        r.doc_id: r
        for r in _map_surface(
            _map_doc_pools(_match_stats_rows(df)), ["doc_id"], -1.0
        ).collect()
    }
    refused, healthy = surface[0], surface[1]
    for alias, _, _, _ in _MAP_SURFACE_SPECS:
        assert refused[alias] == -1.0, alias
    assert refused.map_per_class == refused.mar_100_per_class == "{}"
    assert healthy["map"] == healthy["mar_100"] == 1.0
    assert healthy.map_per_class == '{"cat_1":"1.000000"}'


def test_fused_flagship_udf_hostile_inputs_degrade_one_row(spark):
    """The FUSED flagship UDF inherits every kernel's error channel: a
    hostile box count emits the mAP sentinel while the same row's text and
    TEDS fields still score; a deeply-nested DOM extracts flattened instead
    of dying; a malformed prediction table is scored 0 and counted in
    ``error_count`` (reference error_id channel analog); the healthy
    sibling row in the same Arrow batch is untouched."""
    from pyspark.sql import functions as F

    from docling_metrics_spark.operators.udfs import flagship_doc_udf

    deep_html = "<html><body>" + "<div>" * 500 + "hello world" + \
        "</div>" * 500 + "</body></html>"
    sane_html = "<html><body><p>hello world</p></body></html>"
    table_html = "<html><body><p>hello world</p>" \
        "<table><tr><td>a</td></tr></table></body></html>"
    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.lit(deep_html))
        .when(F.col("id") == 2, F.lit(table_html))
        .otherwise(F.lit(sane_html))
        .alias("raw_html"),
        F.lit("hello world").alias("pred_text"),
        F.when(F.col("id") == 2, F.array(F.lit("<table")))
        .otherwise(F.array().cast("array<string>"))
        .alias("pred_tables"),
        F.when(F.col("id") == 0, _boxes(60_000, False))
        .otherwise(_boxes(1, False))
        .alias("gt_boxes"),
        F.when(F.col("id") == 0, _boxes(60_000, True))
        .otherwise(_boxes(1, True))
        .alias("pred_boxes"),
    ).repartition(1)

    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            flagship_doc_udf(
                "raw_html", "pred_text", "pred_tables",
                "gt_boxes", "pred_boxes",
            ).alias("r"),
        ).select("doc_id", "r.*").collect()
    }
    hostile, healthy, bad_table = rows[0], rows[1], rows[2]
    assert hostile.map == -1.0 and hostile.mar_100 == -1.0  # mAP sentinel
    assert hostile.f1_score == 1.0  # text still scored (deep DOM flattened)
    assert hostile.extracted is not None and len(hostile.extracted) >= 1
    assert healthy.map == 1.0 and healthy.f1_score == 1.0
    assert healthy.error_count == 0 and healthy.teds_mean is None
    # one GT table vs the malformed "<table": paired, scored 0, one error
    assert bad_table.n_pairs == 1 and bad_table.error_count == 1
    assert bad_table.teds_mean == 0.0
    assert bad_table.map == 1.0  # the row's other metrics still score
