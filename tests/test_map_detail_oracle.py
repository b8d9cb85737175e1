"""Both layout mAP queries re-derive their COCO surface (12 scalars +
per-class JSONs) in DuckDB from one template over the materialized
``match_stats`` rows. This fuzz pins the per-document instance of that SQL
against the kernel's own surface assembly (`evaluate_map`) on randomized
box sets, including inverted (negative-area) boxes, which every area range
ignores, and empty documents (the −1.0 / "{}" sentinel path)."""

import random

import duckdb
import pandas as pd

from docling_metrics_spark.kernels.layout import evaluate_map, match_stats_docs
from docling_metrics_spark.operators.udfs import _fmt6_half_up, _sorted_json

SCALARS = [
    "map", "map_50", "map_75", "map_small", "map_medium", "map_large",
    "mar_1", "mar_10", "mar_100", "mar_small", "mar_medium", "mar_large",
]


def _rand_docs(seed=99, n=30, p_inverted=0.0, prefix="d"):
    rng = random.Random(seed)

    def rand_box(x0, y0, w, h):
        if rng.random() < p_inverted:
            return [x0 + w, y0, x0, y0 + h]  # x2 < x1: negative area
        return [x0, y0, x0 + w, y0 + h]

    docs = {}
    for d in range(n):
        gt = []
        for _ in range(rng.randint(0, 12)):
            x0, y0 = rng.uniform(0, 800), rng.uniform(0, 800)
            w, h = rng.uniform(0.5, 400), rng.uniform(0.5, 400)
            gt.append((rng.randint(1, 4), rand_box(x0, y0, w, h)))
        pred = []
        for _ in range(rng.randint(0, 15)):
            if gt and rng.random() < 0.6:
                c, b = rng.choice(gt)
                b = [v + rng.uniform(-20, 20) for v in b]
            else:
                x0, y0 = rng.uniform(0, 800), rng.uniform(0, 800)
                c = rng.randint(1, 4)
                b = rand_box(x0, y0, rng.uniform(0.5, 300),
                             rng.uniform(0.5, 300))
            pred.append((c, b, rng.random()))
        docs[f"{prefix}{d}"] = (gt, pred)
    return docs


def test_map_detail_oracle_matches_surface(tmp_path):
    from docling_metrics_spark.plans.queries import (
        _MAP_STATS_PATH,
        all_oracles,
    )

    docs = {
        **_rand_docs(),
        **_rand_docs(seed=7, n=40, p_inverted=0.2, prefix="inv"),
        "dempty": ([], []),
        # class 2's only box is inverted, so its "all" bucket is empty: it
        # must keep its per-class key (the -1.0 sentinel), like evaluate_map
        "ddegenerate": (
            [(1, [0, 0, 50, 50]), (2, [100, 100, 60, 160])],
            [(1, [0, 0, 50, 50], 0.9), (2, [100, 100, 60, 160], 0.8)],
        ),
    }
    rows = []
    for did, (gt, pred) in docs.items():
        stats = match_stats_docs([(gt, pred)])[0]
        if not stats:  # explode_outer's null row for an empty document
            rows.append({"doc_id": did, "cls": None})
        rows += [{"doc_id": did, **r} for r in stats]
    df = pd.DataFrame(rows)
    # Spark writes int32 keys and counts; pandas must not widen them to float
    for c in ("cls", "thr_idx", "n_gt", "n_tp", "tp_md1", "tp_md10"):
        df[c] = df[c].astype("Int32")
    df.to_parquet(tmp_path / "p.parquet")

    con = duckdb.connect()
    con.execute("SET threads=2")
    sql = all_oracles()["layout_map"].replace(_MAP_STATS_PATH, str(tmp_path))
    res = con.execute(sql).df().set_index("doc_id")
    assert len(res) == len(docs)
    for did, (gt, pred) in docs.items():
        want = evaluate_map(gt, pred)
        got = res.loc[did]
        for k in SCALARS:
            assert _fmt6_half_up(want[k]) == _fmt6_half_up(float(got[k])), (
                did, k, want[k], got[k],
            )
        for k in ("map_per_class", "mar_100_per_class"):
            exp = _sorted_json(
                {kk: _fmt6_half_up(vv) for kk, vv in want[k].items()}
            )
            assert exp == got[k], (did, k, exp, got[k])

