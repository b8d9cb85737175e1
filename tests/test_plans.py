"""Physical-plan audits: the 100 TB design points must be visible in the
plan, not just hoped for — filter pushdown into the parquet scan, nested
column pruning, broadcast joins for dimensions, partial aggregation, and a
shuffle-free narrow pipeline before the final aggregation."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_filter_pushdown_reaches_scan(spark):
    from docling_metrics_spark.plans.queries import top_revenue_orders

    plan = _plan(top_revenue_orders(spark, SF))
    assert "PushedFilters" in plan
    # the market-segment predicate must appear in the pushed filter list
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l for l in pushed), pushed


def test_column_pruning(spark):
    from docling_metrics_spark.plans.queries import order_stats_histogram

    plan = _plan(order_stats_histogram(spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    # a single-column aggregate must not drag the whole orders schema in
    assert read, plan
    for line in read:
        assert line.split("ReadSchema:")[1].strip() == \
            "struct<o_totalprice:double>", line


def test_broadcast_join_for_dimensions(spark):
    from docling_metrics_spark.plans.queries import nation_region_rollup

    plan = _plan(nation_region_rollup(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation(spark):
    from docling_metrics_spark.plans.queries import top_revenue_orders

    plan = _plan(top_revenue_orders(spark, SF), "simple")
    # map-side combine: HashAggregate appears as partial + final pair
    assert plan.count("HashAggregate") >= 2


def test_pipeline_is_narrow_before_agg(spark):
    """run_pipeline (extract → verify → score) must contain NO shuffle —
    every exchange before the final aggregation would repartition the full
    100 TB corpus."""
    from docling_metrics_spark.datagen import generate_documents_df
    from docling_metrics_spark.pipeline import run_pipeline

    per_doc = run_pipeline(generate_documents_df(spark, 50))
    plan = _plan(per_doc, "simple")
    assert "Exchange" not in plan, plan


def test_summary_is_one_partial_final_aggregate(spark):
    """aggregate_metrics is Spark's own two-stage aggregate: a partial
    HashAggregate in every task, ONE Exchange of the partial rows, then a
    final HashAggregate — no salt column and no second shuffle stage."""
    from docling_metrics_spark.datagen import generate_documents_df
    from docling_metrics_spark.pipeline import aggregate_metrics, run_pipeline

    summary = aggregate_metrics(run_pipeline(generate_documents_df(spark, 50)))
    plan = _plan(summary, "simple")
    nodes = [line.lstrip(" :+-*") for line in plan.splitlines()]
    assert sum(n.startswith("Exchange ") for n in nodes) == 1, plan
    aggs = [n for n in nodes if n.startswith("HashAggregate(")]
    # printed root first: the final aggregate, then the per-task partial
    assert len(aggs) == 2, plan
    assert "partial_" not in aggs[0] and "partial_" in aggs[1], plan
    assert "xxhash64" not in plan, plan


def test_tore_slot_sum_is_one_partial_final_aggregate(spark):
    """tore_confusion sums the per-page matrices with one keyless aggregate
    over the array slots: ONE Exchange of the per-task partial rows, and
    no posexplode (Generate) of the matrices into slot rows."""
    from docling_metrics_spark.plans.queries import tore_confusion

    plan = _plan(tore_confusion(spark, SF), "simple")
    nodes = [line.lstrip(" :+-*") for line in plan.splitlines()]
    assert sum(n.startswith("Exchange ") for n in nodes) == 1, plan
    assert "Generate" not in plan and "posexplode" not in plan, plan


def test_whole_stage_codegen_present(spark):
    # AQE materializes codegen spans only at execution; in the executed
    # final plan they surface as "*(n)" stage markers.
    from docling_metrics_spark.plans.queries import order_stats_histogram

    df = order_stats_histogram(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan, plan


def test_bucketed_join_avoids_shuffle(spark):
    """Pre-bucketed fact tables joined on the bucket key must not shuffle
    either side. At tiny SF, AQE rightly broadcasts the small side, so the
    production query only proves the bucketed scan; a merge-hinted variant
    proves the shuffle-free SortMergeJoin both big sides would get."""
    from docling_metrics_spark.plans.queries import (
        _bucketed_tables,
        bucketed_order_revenue,
    )

    df = bucketed_order_revenue(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan  # bucketed scan engaged

    db = _bucketed_tables(spark, SF)
    o = spark.table(f"{db}.orders_b").hint("merge")
    li = spark.table(f"{db}.lineitem_b")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "o_orderpriority"
    )
    joined.collect()
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan, jplan
    # both join inputs come straight from bucket-local scans — no Exchange
    # anywhere in this plan (there is no post-join agg here)
    assert "Exchange" not in jplan, jplan


def test_lsh_ann_recall_vs_exact_oracle(spark):
    """OR-amplified SRP-LSH must recover ≥0.9 of the exact cosine near-dup
    pairs on the same id range (VERDICT r1 item 3: the ANN path is only done
    when its recall is measured against embedding_cosine_near_dup)."""
    from docling_metrics_spark.plans.queries import (
        embedding_cosine_near_dup,
        embedding_lsh_ann,
    )

    sf = "/root/testdata/sf0.01"
    lsh = {
        (r.id_a, r.id_b) for r in embedding_lsh_ann(spark, sf).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_near_dup(spark, sf).collect()
    }
    assert exact, "oracle emitted no pairs — fixture drifted"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9"
    # every LSH pair is exact-verified in-query, so precision is 1 by design
    assert lsh <= exact


def test_simhash_completeness_vs_bruteforce(spark):
    """Multi-block SimHash candidates are COMPLETE for hamming ≤ n_blocks-1:
    every pair within distance 3 found by brute force must be emitted
    (pigeonhole over 4 16-bit blocks)."""
    import pandas as pd

    from docling_metrics_spark.kernels.minhash import simhash
    from docling_metrics_spark.plans.queries import simhash_near_dup

    sf = "/root/testdata/sf0.001"
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup(spark, sf).collect()
    }

    pdf = pd.read_parquet(f"{sf}/documents.parquet")[["doc_id", "text"]]
    fps = {
        int(r.doc_id): simhash((r.text or "").split())
        for r in pdf.itertuples()
    }
    ids = sorted(fps)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = (fps[a] ^ fps[b]).bit_count()
            if h <= 3:
                expected[(a, b)] = h
    assert expected, "no close pairs in fixture — corpus drifted"
    assert got == expected


def test_ivf_ann_recall_vs_bruteforce_topk(spark):
    """IVF (k-means coarse quantizer + nprobe probing) must recover most of
    the brute-force top-5 neighbors for the query vectors."""
    from docling_metrics_spark.plans.queries import (
        _ivf_topk_df,
        embedding_topk,
    )

    sf = "/root/testdata/sf0.01"
    exact = {
        (r.qid, r.vec_id) for r in embedding_topk(spark, sf).collect()
    }
    ivf = {
        (r.qid, r.vec_id) for r in _ivf_topk_df(spark, sf).collect()
    }
    assert exact, "brute-force oracle empty — fixture drifted"
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.8, f"IVF recall@5 {recall:.3f} < 0.8"


def test_teds_similarity_join_equals_bruteforce(spark):
    """The blocked TED join is EXACT: size and label-histogram bounds are
    sound lower bounds for the TEDS cost model, and survivors are verified
    with the exact Zhang-Shasha TEDS — so the result must equal the
    brute-force all-pairs join."""
    from docling_metrics_spark.datagen import gen_document
    from docling_metrics_spark.kernels.teds import html_to_bracket
    from reference_kernels import teds_from_brackets
    from docling_metrics_spark.plans.queries import teds_similarity_join

    got = {
        (r.tid_a, r.tid_b): r.teds
        for r in teds_similarity_join(spark, "/root/testdata/sf0.001").collect()
    }

    import itertools
    import re

    tables = []
    for d in map(gen_document, range(100)):  # matches the query's cap
        for i, s in enumerate(
            sp for sp in d["spans"] if sp["kind"] == "table"
        ):
            tables.append((f"{d['doc_id']}#{i}", html_to_bracket(s["text"])))
            pert = re.sub(r"<td([^>]*)>", r"<td\1>zq ", s["text"])
            tables.append((f"{d['doc_id']}#{i}~p", html_to_bracket(pert)))

    want = {}
    for (ta, ba), (tb, bb) in itertools.combinations(sorted(tables), 2):
        teds, _, _ = teds_from_brackets(ba, bb)
        if round(teds, 6) >= 0.8:
            want[(ta, tb)] = round(teds, 6)
    assert want, "no similar table pairs in fixture — corpus drifted"
    # every injected near-dup pair must be found
    assert any(a.rstrip("~p") == b.rstrip("~p") for (a, b) in want)
    assert got == want


def test_lsh_topk_plan_has_no_python_nodes(spark):
    """With the signature table materialized, the ANN search plan must be
    pure JVM — a regression guard against per-branch UDF re-evaluation in
    the self-join (fixed in round 2)."""
    from docling_metrics_spark.plans.queries import (
        _lsh_sigs_table,
        _lsh_topk_df,
    )

    sf = "/root/testdata/sf0.001"
    _lsh_sigs_table(spark, sf).count()  # index build (prep)
    plan = _lsh_topk_df(spark, sf)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, f"{node} in steady-state ANN plan"


def test_flagship_plan_shape(spark):
    """The flagship BUILD plan (what the shared per-doc materialize
    executes) is narrow (no Exchange) with exactly ONE Arrow UDF
    evaluation — extract + text + TEDS + mAP fused into a single crossing
    (the unfused plan ran two chained ArrowEvalPython stages and shipped
    the extracted spans across the boundary twice). The registered query
    returns the materialized table; `_flagship_build_df` IS the build
    the materialize executes, so a shuffle added there cannot ship
    unasserted."""
    from docling_metrics_spark.plans.queries import _flagship_build_df

    build_df = _flagship_build_df(spark, "/root/testdata/sf0.001")
    plan = build_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Exchange" not in plan
    # formatted mode prints each node twice (tree line + detail header)
    assert plan.count("ArrowEvalPython") == 2 * 1, plan


def test_minhash_releases_signature_cache(spark):
    """minhash_lsh_dedup must not leave persisted RDDs behind (the round-1
    cache leak): after materialization the persistent-RDD map is empty."""
    from docling_metrics_spark.plans.queries import minhash_lsh_dedup

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = minhash_lsh_dedup(spark, "/root/testdata/sf0.001")
    df.count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # other test modules legitimately cache fixtures in the shared session;
    # the query itself must not add any persistent RDDs
    assert after == before, f"minhash leaked {after - before} persisted RDDs"


def test_teds_bracket_mode_agrees_with_html_mode(spark):
    """The bracket input mode must score identically to the HTML mode on
    the same first-table pairs (both reduce to teds_from_brackets)."""
    from docling_metrics_spark.kernels.teds import html_to_bracket
    from reference_kernels import teds_from_brackets
    from docling_metrics_spark.datagen import gen_document
    from docling_metrics_spark.plans.queries import teds_bracket_pairs

    got = {
        r.doc_id: r.teds
        for r in teds_bracket_pairs(spark, "/root/testdata/sf0.001").collect()
    }
    checked = 0
    for d in map(gen_document, range(500)):
        gts = [s["text"] for s in d["spans"] if s["kind"] == "table"]
        prs = [s["text"] for s in d["pred_spans"] if s["kind"] == "table"]
        if not gts or not prs or d["doc_id"] not in got:
            continue
        teds, _, _ = teds_from_brackets(
            html_to_bracket(gts[0]), html_to_bracket(prs[0])
        )
        assert abs(got[d["doc_id"]] - round(teds, 6)) < 1e-9, d["doc_id"]
        checked += 1
    assert checked > 100


def test_materialized_derivations_are_jvm_only(spark):
    """The round-4 oracle pattern splits each converted query into a
    Python kernel stage (materialized to parquet) and a pure-JVM
    re-derivation the DuckDB oracle mirrors. The returned plan must read
    the parquet and contain NO Python nodes — otherwise a re-derivation
    could silently re-execute the UDF subtree (the terminal-orderBy
    pitfall's cousin) and the 'shared intermediate' claim would be
    false."""
    from docling_metrics_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    for fn in (
        Q.extract_spans_pipeline,
        Q.layout_map,
        Q.layout_map_dataset,
        Q.teds_table_pairs,
        Q.teds_cells_pairs,
        Q.teds_bracket_pairs,
        Q.grits_cells_pairs,
        Q.token_edit_distance_pairs,
        # streaming twin of extraction_summary: the returned plan must be
        # parquet-read + agg; its only UDF execution is the stream sink
        Q.streaming_extract,
        Q.smiles_quality,
        Q.markush_quality,
        Q.minhash_lsh_dedup,
        Q.simhash_near_dup,
        Q.embedding_lsh_ann,
        Q.embedding_ivf_topk,
        Q.embedding_lsh_topk,
        Q.teds_similarity_join,
    ):
        plan = _plan(fn(spark, sf))
        for node in (
            "ArrowEvalPython",
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "BatchEvalPython",
        ):
            assert node not in plan, (fn.__name__, node)


def test_registry_fits_driver_window():
    """The driver's correctness gate records only the first 50 registered
    queries (VERDICT r2 #2): the registry must stay ≤50 so EVERY query gets
    a correctness row, and every oracle must belong to a registered query."""
    import __spark_entry__ as E

    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) <= 50, f"registry grew to {len(qs)} — driver checks 50"
    assert set(oracles) <= set(qs)


def test_cached_materialize_invalidates_on_tag_change(spark, tmp_path):
    """The marker-file cache behind the TORE cm / media tables: same tag →
    the build thunk runs once; a tag change (tier/cap switch) rebuilds."""
    from docling_metrics_spark.plans.queries import _cached_table

    path = str(tmp_path / "cache")
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumnRenamed("id", "v")

    assert _cached_table(spark, path, "sfA|10", build).count() == 3
    assert _cached_table(spark, path, "sfA|10", build).count() == 3
    assert len(calls) == 1, "same tag must not rebuild"
    assert _cached_table(spark, path, "sfB|10", build).count() == 3
    assert len(calls) == 2, "tag change must rebuild"


def test_invalidate_cache_forces_rebuild_and_logs_build_event(spark, tmp_path):
    """bench.py's flagship headline depends on this contract: after
    invalidate_cache(path), the next cached_materialize with the SAME
    tag must re-run the build (pricing the live kernel) and log a
    'build' CACHE_EVENT — if invalidation ever became a no-op, the
    headline would silently report cached-parquet-read speed as kernel
    throughput."""
    from docling_metrics_spark.cache import CACHE_EVENTS, invalidate_cache
    from docling_metrics_spark.plans.queries import _cached_table

    path = str(tmp_path / "cache")
    calls = []

    def build():
        calls.append(1)
        return spark.range(2).withColumnRenamed("id", "v")

    _cached_table(spark, path, "sfA|10", build)
    assert len(calls) == 1
    invalidate_cache(path)
    ev0 = len(CACHE_EVENTS)
    _cached_table(spark, path, "sfA|10", build)
    assert len(calls) == 2, "invalidate_cache must force a rebuild"
    assert CACHE_EVENTS[ev0:] == [(path, "build")]
    invalidate_cache(path)  # idempotent on a missing marker
    invalidate_cache(path)


def test_layout_map_queries_share_one_match_stats_table(spark):
    """``layout_map`` builds the one mAP partials table and
    ``layout_map_dataset`` reuses it: the matching kernel runs once for
    both layout queries on the same (tier, cap)."""
    from docling_metrics_spark.cache import CACHE_EVENTS, invalidate_cache
    from docling_metrics_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    invalidate_cache(Q._MAP_STATS_PATH)
    ev0 = len(CACHE_EVENTS)
    Q.layout_map(spark, sf).collect()
    Q.layout_map_dataset(spark, sf).collect()
    shared = [e for e in CACHE_EVENTS[ev0:] if e[0] == Q._MAP_STATS_PATH]
    assert shared == [
        (Q._MAP_STATS_PATH, "build"), (Q._MAP_STATS_PATH, "reuse"),
    ]


def test_file_fixture_paths_embed_src_tag():
    """The COCO and markdown-pair fixture paths (and the oracle SQL reading
    them) carry the package digest, so the oracle reads the fixture this
    package version built."""
    from docling_metrics_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    coco = Q._coco_fixture(None, sf)
    mdpairs = Q._mdpair_fixture(None, sf)
    assert Q._SRC_TAG in coco and Q._SRC_TAG in mdpairs
    oracles = Q.all_oracles()
    assert coco in oracles["coco_layout_load"]
    assert mdpairs in oracles["md_pair_scan"]
    assert mdpairs in oracles["md_pair_missing"]


def test_oracle_tmp_paths_embed_src_tag():
    """Every /tmp table an oracle reads carries the package digest, so a
    session running other code cannot overwrite the tables this package's
    oracles re-derive from."""
    import re

    from docling_metrics_spark.plans import queries as Q

    paths = {
        (name, p)
        for name, sql in Q.all_oracles().items()
        for p in re.findall(r"/tmp/dms_[^'/*]*", sql)
    }
    assert paths
    untagged = sorted(x for x in paths if Q._SRC_TAG not in x[1])
    assert not untagged, untagged


def test_warm_corpus_read_starts_no_job(spark):
    """A warm ``_corpus`` call (its table already built) reads back with the
    schema ``write_corpus`` writes, so it starts no schema-inference job:
    building a plan over the corpus runs no Spark job."""
    from docling_metrics_spark.plans import queries as Q

    cap = Q.CORPUS_CAPS["teds_similarity_join"]
    Q._corpus(spark, SF, cap)  # builds the table, or reuses it
    sc = spark.sparkContext
    sc.setJobGroup("corpus_warm_jobs", "warm _corpus")
    try:
        Q._corpus(spark, SF, cap)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("corpus_warm_jobs")) == []


def test_token_pairs_count_dropped_rows_in_their_write(spark):
    """The dropped-row count rides the token-pair table's write as an
    observation, and the read-back takes the written schema: the query
    runs 3 Spark jobs before any action on its result (6 when the count ran
    as two jobs of its own and the read-back inferred its schema), and the
    counters equal a recount of the read-back."""
    from docling_metrics_spark.plans import queries as Q

    sc = spark.sparkContext
    sc.setJobGroup("token_pairs_jobs", "token_edit_distance_pairs")
    try:
        Q.token_edit_distance_pairs(spark, SF)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("token_pairs_jobs")) == 3
    assert Q.QUERY_COUNTERS["token_pairs.unencodable_dropped"] == 0
    read_back = spark.read.parquet(Q._TOKEN_PAIRS_PATH)
    assert Q.QUERY_COUNTERS["token_pairs.rows"] == read_back.count() > 0
    kept = F.col("tok_err") | F.col("enc_a").isNotNull()
    assert read_back.filter(~F.coalesce(kept, F.lit(False))).count() == 0


def test_src_fingerprint_unreadable_source_raises(monkeypatch):
    """An unreadable source file must fail the package digest (the cache
    key and the zip name), not silently drop out of it (its edits would
    then serve stale caches)."""
    import builtins
    import os

    import pytest

    from docling_metrics_spark import cache

    blocked = os.path.join(os.path.dirname(cache.__file__), "multimodal.py")
    real_open = builtins.open

    def fake_open(path, *args, **kwargs):
        if os.path.abspath(path) == blocked:
            raise PermissionError(13, "Permission denied", path)
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", fake_open)
    with pytest.raises(PermissionError):
        cache.package_digest()
