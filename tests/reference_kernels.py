"""Single-process reference implementations the tests check production
paths against. Production never calls them, so they live with the tests,
not in the package."""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Hashable, Sequence

import numpy as np

from docling_metrics_spark.kernels.grits import grits_detail
from docling_metrics_spark.kernels.teds import teds_detail_from_brackets
from docling_metrics_spark.kernels.layout import (
    IOU_THRESHOLDS,
    _map_partials,
    _one,
    _stats_rows,
    _surface,
    pooled_average_precision,
)


def levenshtein_dp(a: Sequence[Hashable], b: Sequence[Hashable]) -> int:
    """Plain two-row DP Levenshtein — the independent cross-check of the
    bit-parallel kernel (the reference cross-checks Python vs C++ the same
    way: benchmarks/edit_distance_benchmark.py:90-102)."""
    m, n = len(a), len(b)
    if m == 0:
        return n
    if n == 0:
        return m
    prev = list(range(n + 1))
    cur = [0] * (n + 1)
    for i in range(1, m + 1):
        cur[0] = i
        ai = a[i - 1]
        for j in range(1, n + 1):
            cost = 0 if ai == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev, cur = cur, prev
    return prev[n]


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def aggregate_smiles(results: list[dict]) -> dict:
    """SMILES dataset aggregate (docling_metrics_chemistry.py:294-345):
    rates and null-skipping mean tanimoto, rounded to 3."""
    n = len(results)
    if n == 0:
        return {"sample_count": 0, "validity_rate": None,
                "equality_rate": None, "tanimoto_mean": None}
    tans = [r["tanimoto"] for r in results if r["tanimoto"] is not None]
    return {
        "sample_count": n,
        "validity_rate": round(sum(r["valid"] for r in results) / n, 3),
        "equality_rate": round(sum(r["string_equality"] for r in results) / n, 3),
        "tanimoto_mean": round(sum(tans) / len(tans), 3) if tans else None,
    }


def aggregate_markush(results: list[dict]) -> dict:
    """Markush dataset aggregate with the reference's conditional means
    (docling_metrics_chemistry.py:294-345): r/m/sg averaged only over
    samples that have the feature; cxsmi_equality over Markush samples."""
    n = len(results)
    if n == 0:
        return {
            "sample_count": 0,
            "mean_tanimoto": 0.0,
            "validity_rate": 0.0,
            "string_equality_rate": 0.0,
            "mean_r": None,
            "mean_m": None,
            "mean_sg": None,
            "cxsmi_equality_rate": None,
        }
    r_vals = [r["r"] for r in results if r["r"] is not None]
    m_vals = [r["m"] for r in results if r["m"] is not None]
    sg_vals = [r["sg"] for r in results if r["sg"] is not None]
    markush = [r for r in results if r["num_fragments_gt"] > 0]
    return {
        "sample_count": n,
        "mean_tanimoto": round(sum(r["tanimoto"] for r in results) / n, 3),
        "validity_rate": round(sum(1 for r in results if r["valid"]) / n, 3),
        "string_equality_rate": round(
            sum(1 for r in results if r["string_equality"]) / n, 3
        ),
        "mean_r": round(sum(r_vals) / len(r_vals), 3) if r_vals else None,
        "mean_m": round(sum(m_vals) / len(m_vals), 3) if m_vals else None,
        "mean_sg": round(sum(sg_vals) / len(sg_vals), 3) if sg_vals else None,
        "cxsmi_equality_rate": (
            round(
                sum(1 for r in markush if r["cxsmi_equality"]) / len(markush), 3
            )
            if markush
            else None
        ),
    }


def merged_map_local(docs: list[tuple[list, list]]) -> dict[str, float]:
    """Single-process oracle for dataset mAP: pool match partials from every
    document per (class, threshold, area), AP + pooled recalls per group,
    mean over groups — the same full surface as the distributed path."""
    pool: dict[tuple, list] = defaultdict(lambda: [[], [], 0, 0, 0])
    for parts in _map_partials(docs):
        for st in _stats_rows(_one(parts)):
            slot = pool[(st["cls"], st["thr_idx"], st["area"])]
            slot[0].extend(st["scores"])
            slot[1].extend(st["tp"])
            slot[2] += st["n_gt"]
            slot[3] += st["tp_md1"]
            slot[4] += st["tp_md10"]

    pools: dict[tuple, np.ndarray] = {}
    for (cls, t, area), (scores, tp, n_gt, t1, t10) in pool.items():
        v = pools.setdefault((cls, area), np.full((4, len(IOU_THRESHOLDS)), np.nan))
        v[0, t] = pooled_average_precision(np.array(scores), np.array(tp), n_gt)
        if n_gt:
            v[1:, t] = (t1 / n_gt, t10 / n_gt, int(np.sum(tp)) / n_gt)
    return _surface(pools)


def grits(cells_a: list[dict], cells_b: list[dict], task: str) -> float:
    """GriTS f-score for one task over two cell lists: the normalization
    the ``grits_cells_pairs`` query applies in SQL."""
    total, na, nb = grits_detail(cells_a, cells_b, task)
    if na == 0 and nb == 0:
        return 1.0
    if na == 0 or nb == 0:
        return 0.0
    return 2.0 * total / (na + nb)


def teds_from_brackets(bracket_a: str, bracket_b: str) -> tuple[float, int, int]:
    """TEDS = 1 − TED / max(sizes); returns (teds, size_a, size_b).

    Formula: cpp_src/pybind/teds_manager.h:87-96 (C++ path node counts are
    full bracket-tree sizes). Production normalizes the same triple on the
    JVM (``plans/queries._teds_from_detail``)."""
    dist, na, nb = teds_detail_from_brackets(bracket_a, bracket_b)
    return 1.0 - dist / max(na, nb), na, nb
