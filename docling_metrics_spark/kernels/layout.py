"""Layout metrics: IoU, COCO-style mAP, and a TORE-style multi-label
pixel confusion matrix. Pure numpy — runs inside Arrow UDFs.

- :func:`iou_matrix` — pairwise xyxy IoU (reference IoU reward
  grits.py:257-275; xywh↔xyxy conversions layout/utils/utils.py:18-49 are
  plain column arithmetic in our Spark layer).
- COCO mAP, the published evaluation protocol (Lin et al. 2014 +
  pycocotools reference protocol): greedy matching of score-sorted
  predictions to GT at IoU thresholds 0.50:0.05:0.95 with the area-range
  ignore rule, 101-point interpolated AP, mAP = mean over classes present
  in GT. ONE matcher, :func:`_match_all_thresholds`, matches all ten
  thresholds for a batch of (document, class, area bucket) groups in one
  pass over the detections; :func:`_map_partials` pads the groups of a
  batch of documents into power-of-two shape buckets, one matcher call
  per bucket. A single document is the one-document batch. It is read by
  :func:`match_stats_docs` (the long-form rows both layout queries
  materialize) and :func:`evaluate_map` (the per-document surface; the
  flagship scores a whole Arrow batch with :func:`evaluate_map_docs`).
  :func:`_surface` is the one reduction to the
  12 scalars + per-class dicts. The reference delegates to
  torchmetrics/faster_coco_eval (map_layout_evaluator.py:201-208); we
  implement the protocol directly (torch unavailable, and from-scratch is
  the point).
- :func:`rasterize_multilabel` / :func:`confusion_matrix_from_masks` —
  per-pixel multi-label confusion in the spirit of the reference's TORE
  evaluator (multi_label_confusion_matrix.py:75-377): bboxes rasterized to
  per-pixel class *bitmasks* (uint64, bit 0 = background), pixels compressed
  to unique (gt_mask, pred_mask) pairs with counts (the relational
  ``groupBy(g, p).count()`` twin of the reference's np.unique compression,
  lines 28-56), then each pair contributes weight to an
  (n_classes+1)² matrix: matched classes on the diagonal, unmatched gt
  classes spread uniformly over unmatched pred classes (or background).
  Per-class precision/recall/F1 derive from row/column sums
  (multi_label_confusion_matrix.py:419-488). The contribution algebra is
  the reference's exact four-case weighted scheme (ibid. 163-377, verified
  case-by-case against the reference's paper fixture — see
  :func:`confusion_matrix_binary`), re-expressed as einsum over the
  compressed pairs instead of per-pixel 3-D contribution tensors.
"""

from __future__ import annotations

import numpy as np

IOU_THRESHOLDS = np.arange(0.5, 1.0, 0.05)  # 0.50 … 0.95 (10 thresholds)
RECALL_POINTS = np.linspace(0.0, 1.0, 101)


def iou_matrix(boxes_a: np.ndarray, boxes_b: np.ndarray) -> np.ndarray:
    """Pairwise IoU of two (n,4) / (m,4) xyxy float arrays → (n,m)."""
    a = np.asarray(boxes_a, dtype=np.float64).reshape(-1, 4)
    b = np.asarray(boxes_b, dtype=np.float64).reshape(-1, 4)
    return _iou_batch(a[None], b[None])[0]


def _iou_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise IoU per group: [n, G, 4] × [n, D, 4] → [n, G, D].
    An all-zero padding box has IoU 0 with anything."""
    x1 = np.maximum(a[:, :, None, 0], b[:, None, :, 0])
    y1 = np.maximum(a[:, :, None, 1], b[:, None, :, 1])
    x2 = np.minimum(a[:, :, None, 2], b[:, None, :, 2])
    y2 = np.minimum(a[:, :, None, 3], b[:, None, :, 3])
    inter = np.clip(x2 - x1, 0, None) * np.clip(y2 - y1, 0, None)
    area_a = (a[:, :, 2] - a[:, :, 0]) * (a[:, :, 3] - a[:, :, 1])
    area_b = (b[:, :, 2] - b[:, :, 0]) * (b[:, :, 3] - b[:, :, 1])
    union = area_a[:, :, None] + area_b[:, None, :] - inter
    return np.divide(inter, union, out=np.zeros_like(inter), where=union > 0)


def average_precision(
    tp_sorted: np.ndarray, n_gt: int
) -> float:
    """101-point interpolated AP from TP flags sorted by descending score."""
    if n_gt == 0:
        return float("nan")
    if len(tp_sorted) == 0:
        return 0.0
    tp_cum = np.cumsum(tp_sorted)
    fp_cum = np.cumsum(~tp_sorted)
    recall = tp_cum / n_gt
    precision = tp_cum / (tp_cum + fp_cum)
    # Precision envelope (monotone non-increasing from the right),
    # vectorized: reverse → running max → reverse.
    precision = np.maximum.accumulate(precision[::-1])[::-1]
    idx = np.searchsorted(recall, RECALL_POINTS, side="left")
    prec_at = np.where(idx < len(precision), precision[np.minimum(idx, len(precision) - 1)], 0.0)
    return float(prec_at.mean())


# COCO area ranges (pycocotools params): boxes outside the range are
# IGNORED for that bucket (neither GT nor false positive).
AREA_RANGES: dict[str, tuple[float, float]] = {
    "all": (0.0, 1e10),
    "small": (0.0, 32.0**2),
    "medium": (32.0**2, 96.0**2),
    "large": (96.0**2, 1e10),
}
MAX_DET = 100  # detections kept per class, best score first (COCO maxDets)


# Padded IoU cells (groups × (G + thresholds) × D) per matcher call; a
# shape bucket with more groups is matched in several calls.
_BATCH_CELLS = 1 << 20


def _pow2(n: int) -> int:
    return 1 << max(n - 1, 0).bit_length()


def _match_all_thresholds(
    ious: np.ndarray, gt_ig: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Greedy COCO matching with ignore semantics (the published
    pycocotools evaluateImg algorithm) for ALL IoU thresholds of a batch
    of groups in one pass over the detections.

    ``ious`` is [n, G, D]: per group, GTs × detections in descending-score
    order; ``gt_ig`` [n, G] flags the GTs outside the area range. Padding
    (IoU 0, not ignored) never matches. Each detection claims the
    highest-IoU untaken in-range GT with IoU ≥ thr and falls through to
    the highest-IoU untaken ignored GT only when no in-range GT qualifies;
    equal-IoU ties go to the LAST GT index. Ignored GTs compete at a
    quarter of their IoU: an eligible IoU is ≥ 0.5, so a quartered one
    (≤ 0.25, exact under power-of-two scaling) ranks below every in-range
    candidate while ties among ignored GTs stay ties — both tiers resolve
    in one [n, T, G] pass per detection.

    Returns bool [n, T, D] flags: matched to an in-range GT, matched to an
    ignored GT."""
    n, n_gt, n_dt = ious.shape
    n_thr = len(IOU_THRESHOLDS)
    matched = np.zeros((n, n_thr, n_dt), dtype=bool)
    if n_gt == 0 or n_dt == 0:
        return matched, matched
    rows = ious.transpose(0, 2, 1)  # [n,D,G]
    rank = np.where(gt_ig[:, None, :], rows * 0.25, rows)
    thr = IOU_THRESHOLDS[None, :, None]  # [1,T,1]
    free = np.ones((n, n_thr, n_gt), dtype=bool)
    grp, t_idx = np.arange(n)[:, None], np.arange(n_thr)[None, :]
    gt_idx = np.empty((n, n_thr, n_dt), dtype=np.int64)
    for d in range(n_dt):
        masked = np.where((rows[:, d, None, :] >= thr) & free,
                          rank[:, d, None, :], -1.0)
        # last argmax: ties go to the highest GT index
        sel = (n_gt - 1) - np.argmax(masked[:, :, ::-1], axis=2)
        ok = masked[grp, t_idx, sel] > -1.0
        free[grp, t_idx, sel] &= ~ok
        matched[:, :, d] = ok
        gt_idx[:, :, d] = sel
    on_ig = matched & np.take_along_axis(gt_ig[:, None, :], gt_idx, axis=2)
    return matched ^ on_ig, on_ig


def _ap_all_thresholds(
    tp: np.ndarray, keep: np.ndarray, n_gt: np.ndarray
) -> np.ndarray:
    """101-point interpolated AP for every group and threshold at once,
    from TP flags [n, T, D] in descending-score order; ``keep`` [n, T, D]
    is False for ignored and padded detections (every TP is kept). An
    unkept detection repeats the previous point of the curve, so each AP
    is bit-identical to :func:`average_precision` over that threshold's
    kept flags. Returns AP [n, T]; a group with ``n_gt`` 0 gets a
    meaningless value the caller replaces."""
    n, n_thr, n_dt = tp.shape
    if n_dt == 0:
        return np.zeros((n, n_thr))
    n_rows = n * n_thr
    tp_cum = np.cumsum(tp, axis=2).reshape(n_rows, n_dt)
    recall = tp_cum / np.repeat(np.maximum(n_gt, 1), n_thr)[:, None]
    # kept detections so far = TP + FP; 0 before the first kept one
    keep_cum = np.cumsum(keep, axis=2).reshape(n_rows, n_dt)
    precision = tp_cum / np.maximum(keep_cum, 1)
    precision = np.maximum.accumulate(precision[:, ::-1], axis=1)[:, ::-1]
    # first dt index where recall ≥ each of the 101 points: recall rises
    # along a row, so it is the count of dts reaching fewer points
    # (searchsorted "right" counts the points ≤ each recall, exactly)
    n_pts = len(RECALL_POINTS)
    reached = np.searchsorted(RECALL_POINTS, recall, side="right")
    reached += (np.arange(n_rows) * (n_pts + 1))[:, None]
    first = np.cumsum(
        np.bincount(reached.ravel(), minlength=n_rows * (n_pts + 1))
        .reshape(n_rows, n_pts + 1)[:, :n_pts], axis=1)
    row = np.arange(n_rows)[:, None]
    prec_at = np.where(first < n_dt,
                       precision[row, np.minimum(first, n_dt - 1)], 0.0)
    return prec_at.mean(axis=1).reshape(n, n_thr)


def _check_box_budget(gt: list, pred: list) -> None:
    """Refuse a document with more than 100,000 boxes.

    Predictions are truncated to MAX_DET per class, but GT is unbounded
    input: a hostile document with millions of boxes would allocate a
    gigabyte IoU matrix. The ValueError lets the UDF wrapper emit its
    sentinel instead of killing the task."""
    if len(gt) + len(pred) > 100_000:
        raise ValueError(f"too many boxes: {len(gt)} gt + {len(pred)} pred")


def _doc_groups(
    gt: list[tuple[int, list[float]]],
    pred: list[tuple[int, list[float], float]],
    areas: dict[str, tuple[float, float]],
) -> list[list]:
    """One document's (class, area bucket) match groups, classes ascending:
    ``[cls, area, n_gt, scores, g, pb, gt_ig, dt_out]`` with the class's
    GT boxes ``g``, its predictions ``pb`` (descending score, at most
    MAX_DET) and their scores, the out-of-range flags of both sides and
    the in-range GT count. A size bucket with nothing in range on either
    side is left out; an empty ``"all"`` bucket stays, with ``g`` None, so
    every class keeps its per-class key. Raises ValueError for a refused
    or malformed box list."""
    _check_box_budget(gt, pred)
    out = []
    for cls in sorted({c for c, _ in gt} | {c for c, _, _ in pred}):
        g = np.array([b for c, b in gt if c == cls], dtype=np.float64).reshape(-1, 4)
        p = [(b, s) for c, b, s in pred if c == cls]
        p.sort(key=lambda x: -x[1])
        p = p[:MAX_DET]
        pb = np.array([b for b, _ in p], dtype=np.float64).reshape(-1, 4)
        scores = np.array([s for _, s in p], dtype=np.float64)
        g_area = (g[:, 2] - g[:, 0]) * (g[:, 3] - g[:, 1])
        p_area = (pb[:, 2] - pb[:, 0]) * (pb[:, 3] - pb[:, 1])
        for area, (lo, hi) in areas.items():
            gt_ig = (g_area < lo) | (g_area > hi)
            dt_out = (p_area < lo) | (p_area > hi)
            n_gt = int((~gt_ig).sum())
            if n_gt == 0 and dt_out.all():
                if area == "all":
                    out.append([cls, area, 0, scores, None, pb, None, None])
                continue
            out.append([cls, area, n_gt, scores, g, pb, gt_ig, dt_out])
    return out


def _match_groups(groups: list[list]) -> list[tuple]:
    """``(tp, keep, ap)`` per :func:`_doc_groups` group, any mix of
    documents: groups are bucketed by power-of-two (G, D), each bucket
    padded and matched in one :func:`_match_all_thresholds` call (a lone
    group keeps its own shape). ``keep`` [T, D] is False for an ignored
    detection — an out-of-range dt counts only as a TP: unmatched, it is
    ignored, not a false positive; AP is NaN when ``n_gt`` is 0."""
    n_thr = len(IOU_THRESHOLDS)
    out: list = [None] * len(groups)
    buckets: dict[tuple[int, int], list[int]] = {}
    for k, (_, _, _, _, g, pb, _, _) in enumerate(groups):
        if g is None:
            none = np.zeros((n_thr, len(pb)), dtype=bool)
            out[k] = none, none, np.full(n_thr, np.nan)
        else:
            buckets.setdefault((_pow2(len(g)), _pow2(len(pb))), []).append(k)
    for (gp, dp), ks in buckets.items():
        step = max(1, _BATCH_CELLS // ((gp + n_thr) * dp))
        for s in range(0, len(ks), step):
            chunk = ks[s:s + step]
            n = len(chunk)
            g_w, d_w = ((len(groups[chunk[0]][4]), len(groups[chunk[0]][5]))
                        if n == 1 else (gp, dp))
            gb = np.zeros((n, g_w, 4))
            pbb = np.zeros((n, d_w, 4))
            ig = np.zeros((n, g_w), dtype=bool)
            dt_out = np.ones((n, d_w), dtype=bool)  # padding: never kept
            n_gt = np.empty(n, dtype=np.int64)
            for r, k in enumerate(chunk):
                _, _, n_gt[r], _, g, pb, g_ig, d_out = groups[k]
                gb[r, :len(g)] = g
                pbb[r, :len(pb)] = pb
                ig[r, :len(g)] = g_ig
                dt_out[r, :len(pb)] = d_out
            tp, on_ig = _match_all_thresholds(_iou_batch(gb, pbb), ig)
            keep = np.where(dt_out[:, None, :], tp, ~on_ig)
            ap = _ap_all_thresholds(tp, keep, n_gt)
            for r, k in enumerate(chunk):
                n_dt = len(groups[k][5])
                out[k] = (tp[r, :, :n_dt], keep[r, :, :n_dt],
                          ap[r] if n_gt[r] else np.full(n_thr, np.nan))
    return out


def _map_partials(
    docs: list[tuple[list, list]],
    areas: dict[str, tuple[float, float]] = AREA_RANGES,
) -> list:
    """The COCO match behind :func:`match_stats_docs` and
    :func:`evaluate_map`, for a batch of ``(gt, pred)`` documents
    matched together (:func:`_match_groups`).

    Per document, ``[(cls, area, n_gt, scores, tp, keep, ap)]``: the
    class's prediction scores (descending, at most MAX_DET), TP flags and
    kept (not ignored) flags [T, D] in score order, the in-range GT count
    and the per-threshold AP [T] (NaN when ``n_gt`` is 0) — or, for a
    document :func:`_doc_groups` refuses, its ValueError, so one hostile
    document degrades only its own result."""
    per_doc: list = []
    groups: list = []
    for gt, pred in docs:
        try:
            doc = _doc_groups(gt, pred, areas)
        except ValueError as exc:
            per_doc.append(exc)
            continue
        per_doc.append(doc)
        groups += doc
    matches = iter(_match_groups(groups))
    return [
        doc if isinstance(doc, ValueError)
        else [(c, a, n_gt, sc, *next(matches)) for c, a, n_gt, sc, *_ in doc]
        for doc in per_doc
    ]


def _one(parts):
    """A single document's :func:`_map_partials` entry; re-raises a
    refusal."""
    if isinstance(parts, ValueError):
        raise parts
    return parts


def _surface(pools: dict, core: bool = False) -> dict:
    """The COCO result surface from pools keyed (cls, area), each a [4, T]
    array over the IoU thresholds: row 0 the AP, rows 1-3 the recall at
    maxdet 1/10/100. NaN marks an empty pool and is skipped; a mean over
    nothing is the torchmetrics -1.0 sentinel. Means run in pool insertion
    order. ``core`` stops after map/map_50/map_75/mar_100."""

    def mean(vals) -> float:
        arr = np.array(vals, dtype=np.float64).ravel()
        arr = arr[~np.isnan(arr)]
        return float(arr.mean()) if arr.size else -1.0

    def over(area: str, row: int) -> float:
        return mean([v[row] for (_, a), v in pools.items() if a == area])

    per_cls = [(c, v) for (c, a), v in pools.items() if a == "all"]
    head = {
        "map": over("all", 0),
        "map_50": mean([v[0, 0] for _, v in per_cls]),
        "map_75": mean([v[0, 5] for _, v in per_cls]),
    }
    if core:
        return {**head, "mar_100": over("all", 3)}
    per_cls.sort(key=lambda cv: cv[0])
    return {
        **head,
        "map_small": over("small", 0),
        "map_medium": over("medium", 0),
        "map_large": over("large", 0),
        "mar_1": over("all", 1),
        "mar_10": over("all", 2),
        "mar_100": over("all", 3),
        "mar_small": over("small", 3),
        "mar_medium": over("medium", 3),
        "mar_large": over("large", 3),
        "map_per_class": {f"cat_{c}": mean(v[0]) for c, v in per_cls},
        "mar_100_per_class": {f"cat_{c}": mean(v[3]) for c, v in per_cls},
    }


def _pools(parts: list, core: bool) -> dict:
    """:func:`_surface` pools from one document's :func:`_map_partials`."""
    pools: dict[tuple, np.ndarray] = {}
    for cls, area, n_gt, _, tp, _, ap in parts:
        v = np.array([ap, tp[:, :1].sum(axis=1), tp[:, :10].sum(axis=1),
                      tp.sum(axis=1)], dtype=np.float64)
        v[1:] = v[1:] / n_gt if n_gt else np.nan
        pools[(cls, area)] = v
    return pools


def evaluate_map_docs(docs: list[tuple[list, list]],
                      surface: str = "full") -> list[dict | None]:
    """:func:`evaluate_map` for a batch of ``(gt, pred)`` documents matched
    together; a refused document's entry is None."""
    core = surface == "core"
    areas = {"all": AREA_RANGES["all"]} if core else AREA_RANGES
    return [
        None if isinstance(parts, ValueError) else _surface(_pools(parts, core), core)
        for parts in _map_partials(docs, areas)
    ]


def evaluate_map(
    gt: list[tuple[int, list[float]]],
    pred: list[tuple[int, list[float], float]],
    surface: str = "full",
) -> dict:
    """COCO-protocol mAP for one document/page (or one merged group), with
    the reference's FULL result surface (map_layout_evaluator.py:146-199 /
    torchmetrics MeanAveragePrecision): map/map_50/map_75, size-bucketed
    map_small/medium/large, mar_1/mar_10/mar_100, mar_small/medium/large,
    and per-class map/mar_100 dicts keyed "cat_<id>". -1.0 marks an
    undefined bucket (no in-range GT), matching the torchmetrics sentinel.

    ``surface="core"`` restricts the computation to the flagship pipeline's
    kept fields (all-area map/map_50/map_75/mar_100): the size buckets are
    never matched. Overlapping fields are bit-identical to the full
    surface (same matcher, same threshold grid). Raises ValueError for a
    refused document (:func:`_check_box_budget`).

    gt: [(category_id, xyxy)], pred: [(category_id, xyxy, score)].
    """
    core = surface == "core"
    areas = {"all": AREA_RANGES["all"]} if core else AREA_RANGES
    return _surface(_pools(_one(_map_partials([(gt, pred)], areas)[0]), core), core)


# ---------------------------------------------------------------------------
# TORE multi-label pixel confusion matrix — the reference's exact 4-case
# weighted contribution algebra (multi_label_confusion_matrix.py:163-377),
# vectorized over np.unique-compressed (gt_mask, pred_mask) pixel pairs.
# ---------------------------------------------------------------------------

BACKGROUND_BIT = 0  # bit 0 = background class; data class k -> bit k+1


def unpackbits64(x: np.ndarray, num_bits: int) -> np.ndarray:
    """Low ``num_bits`` bits of a 1-D uint64 array → (n, num_bits) float
    0/1 matrix (reference unpackbits, multi_label_confusion_matrix.py:17-25)."""
    mask = np.left_shift(np.uint64(1), np.arange(num_bits, dtype=np.uint64))
    return ((x[:, None] & mask[None, :]) != 0).astype(np.float64)


def rasterize_multilabel(
    boxes: list[tuple[int, list[float]]], width: int, height: int,
    n_classes: int,
) -> np.ndarray:
    """Rasterize (category_id, xyxy) boxes into a (h, w) uint64 bitmask image.

    Pixel bit layout: data class k sets bit (k+1); bit 0 is set on pixels no
    class covers (the background class, category index 0 in the matrix) —
    the reference's encoding (multi_label_confusion_matrix.py:75-121) with
    our synthetic category ids shifted up one so background owns bit 0."""
    if n_classes > 62:
        raise ValueError("at most 62 classes fit the uint64 bitmask encoding")
    img = np.zeros((height, width), dtype=np.uint64)
    for cls, (x1, y1, x2, y2) in boxes:
        xa, ya = max(int(np.floor(x1)), 0), max(int(np.floor(y1)), 0)
        xb, yb = min(int(np.ceil(x2)), width), min(int(np.ceil(y2)), height)
        if xb > xa and yb > ya:
            img[ya:yb, xa:xb] |= np.uint64(1 << (cls + 1))
    img[img == 0] = np.uint64(1 << BACKGROUND_BIT)
    return img


def confusion_matrix_binary(
    gt_img: np.ndarray, pred_img: np.ndarray, num_categories: int
) -> np.ndarray:
    """Reference TORE contribution algebra over bit-encoded pixel images.

    Category c is bit c; returns a [num_categories, num_categories] float
    matrix. Pixels are compressed to unique (gt, pred) pairs with counts
    (multi_label_confusion_matrix.py:28-56) and each pair contributes via
    exactly one of the reference's four cases (ibid. 163-377):

    1. gt == pred              → +1 on the diagonal of every gt class.
    2. pred ⊋ gt               → diag gets |gt|/|pred| per gt class; each
                                 (gt class i, pred-only class j) gets 1/|pred|.
    3. gt ⊋ pred               → diag gets 1 per pred class; each
                                 (gt-only i, pred class j) gets 1/|pred|.
    4. mutual difference       → diag gets 1 per gt∩pred class; each
                                 (gt-only i, pred-only j) gets 1/|pred-only|.

    Invariants (reference _validate_contributions, ibid. 490-534): per-pixel
    row sums equal the gt bit vector; total weight equals Σ popcount(gt)."""
    g_flat = np.ascontiguousarray(gt_img, dtype=np.uint64).ravel()
    p_flat = np.ascontiguousarray(pred_img, dtype=np.uint64).ravel()
    # compress to unique (g, p) pairs with counts
    if 2 * num_categories <= 64:
        # pack both masks into one uint64 — 1-D compression is ~10× faster
        # than the row-sorting axis=0 np.unique on megapixel pages
        shift = np.uint64(num_categories)
        packed = (g_flat << shift) | p_flat
        if 2 * num_categories <= 20:
            # small key space: O(n) bincount beats np.unique's sort ~5×
            # (bincount sizes itself to max(packed)+1 — no need to force
            # the full 2^(2C) allocation)
            dense = np.bincount(packed.astype(np.int64))
            keys = np.nonzero(dense)[0].astype(np.uint64)
            counts = dense[keys.astype(np.int64)]
        else:
            keys, counts = np.unique(packed, return_counts=True)
        p = keys & ((np.uint64(1) << shift) - np.uint64(1))
        g = keys >> shift
    else:
        pairs = np.stack([g_flat, p_flat], axis=1)
        uniq, counts = np.unique(pairs, axis=0, return_counts=True)
        g, p = uniq[:, 0], uniq[:, 1]
    w = counts.astype(np.float64)

    C = num_categories
    cm = np.zeros((C, C), dtype=np.float64)
    gbits = unpackbits64(g, C)  # [u, C] 0/1
    pbits = unpackbits64(p, C)
    p_pop = pbits.sum(axis=1)

    eq = g == p
    # Case 1: perfect prediction — weighted diagonal of gt bits.
    if eq.any():
        cm += np.diag((gbits[eq] * w[eq, None]).sum(axis=0))

    ne = ~eq
    # Case 2: pred strictly contains gt.
    c2 = ne & ((g & p) == g)
    if c2.any():
        inter = gbits[c2]              # gt ⊆ pred ⇒ intersection bits = gt bits
        diff = pbits[c2] - gbits[c2]   # pred-only bits
        wk = w[c2] / p_pop[c2]
        cm += np.einsum("k,ki,kj->ij", wk, inter, diff)
        g_pop2 = gbits[c2].sum(axis=1)
        cm += np.diag((gbits[c2] * (g_pop2 * wk)[:, None]).sum(axis=0))

    # Case 3: gt strictly contains pred.
    c3 = ne & ((g | p) == g)
    if c3.any():
        gdiff = gbits[c3] - pbits[c3]  # gt-only bits
        with np.errstate(divide="ignore", invalid="ignore"):
            wk = w[c3] / p_pop[c3]
        cm += np.einsum("k,ki,kj->ij", wk, gdiff, pbits[c3])
        cm += np.diag((pbits[c3] * w[c3, None]).sum(axis=0))

    # Case 4: both sides hold classes missing from the other.
    d = g ^ p
    c4 = ((d & g) > 0) & ((d & p) > 0)
    if c4.any():
        gdiff = gbits[c4] * (1.0 - pbits[c4])
        pdiff = pbits[c4] * (1.0 - gbits[c4])
        inter = gbits[c4] * pbits[c4]
        wk = w[c4] / pdiff.sum(axis=1)
        cm += np.einsum("k,ki,kj->ij", wk, gdiff, pdiff)
        cm += np.diag((inter * w[c4, None]).sum(axis=0))
    return cm


def confusion_matrix_from_masks(
    gt_img: np.ndarray, pred_img: np.ndarray, n_classes: int
) -> np.ndarray:
    """(n_classes+1)² confusion matrix from two :func:`rasterize_multilabel`
    images; row/col 0 is background, data class k is row/col k+1."""
    return confusion_matrix_binary(gt_img, pred_img, n_classes + 1)


def _per_class_prf(cm: np.ndarray) -> list[np.ndarray]:
    """Per-class precision/recall/F1 vectors: the diagonals of
    :func:`confusion_matrices` (diag / column sum, diag / row sum and their
    harmonic mean, zero where a denominator is empty)."""
    return [np.diag(m) for m in confusion_matrices(cm)]


def confusion_metrics(cm: np.ndarray) -> dict[str, float]:
    """Per-class P/R/F1 means from a confusion matrix, matching the
    reference's math exactly (multi_label_confusion_matrix.py:419-488):
    zero (not NaN) where a row/column sum is empty, plain mean over ALL
    classes in the matrix."""
    precision, recall, f1 = _per_class_prf(cm)
    return {
        "precision_mean": float(np.average(precision)),
        "recall_mean": float(np.average(recall)),
        "f1_mean": float(np.average(f1)),
    }


def confusion_per_class(cm: np.ndarray) -> dict[str, dict[str, float]]:
    """Per-class precision/recall/f1 dicts (the reference's
    MultiLabelMatrixAggMetrics classes_* fields,
    multi_label_confusion_matrix.py:459-478). Index 0 is the background
    class; data class k sits at index k+1, keyed "cat_<k>"."""
    precision, recall, f1 = _per_class_prf(cm)

    def name(i: int) -> str:
        return "background" if i == 0 else f"cat_{i - 1}"

    return {
        "classes_precision": {name(i): float(v) for i, v in enumerate(precision)},
        "classes_recall": {name(i): float(v) for i, v in enumerate(recall)},
        "classes_f1": {name(i): float(v) for i, v in enumerate(f1)},
    }


def confusion_matrices(cm: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full precision/recall/F1 MATRICES — the element-wise normalizations
    the reference's exporter renders (multi_label_confusion_matrix.py:
    425-449): precision = column-normalized, recall = row-normalized,
    F1 = element-wise harmonic mean; zeros (not NaN) where a denominator
    is empty. Their diagonals are the per-class metrics of
    :func:`confusion_metrics` and :func:`confusion_per_class`."""
    cm = np.asarray(cm, dtype=float)
    col_sums = cm.sum(axis=0)
    row_sums = cm.sum(axis=1)
    precision_matrix = np.divide(
        cm, col_sums[None, :], out=np.zeros(cm.shape), where=col_sums[None, :] != 0
    )
    recall_matrix = np.divide(
        cm, row_sums[:, None], out=np.zeros(cm.shape), where=row_sums[:, None] != 0
    )
    nom = 2 * precision_matrix * recall_matrix
    den = precision_matrix + recall_matrix
    f1_matrix = np.divide(nom, den, out=np.zeros(cm.shape), where=den != 0)
    return precision_matrix, recall_matrix, f1_matrix


def collapsed_confusion_matrix(cm: np.ndarray) -> np.ndarray:
    """Collapse all non-background classes into one (reference
    compute_metrics, multi_label_confusion_matrix.py:396-411): 2×2 matrix
    [[bg→bg, bg→any], [any→bg, any→any]] with background at index 0."""
    return np.asarray(
        [
            [cm[0, 0], np.sum(cm[0, 1:])],
            [np.sum(cm[1:, 0]), np.sum(cm[1:, 1:])],
        ]
    )


def match_stats_docs(docs: list[tuple[list, list]]) -> list[list[dict] | None]:
    """Per-document COCO matching partials for a batch of ``(gt, pred)``
    documents matched together: the one long-form mAP table behind both
    the per-document and the dataset-level surface.

    The reference's dataset evaluation pools every page into one COCO run
    (map_layout_evaluator.py:50-99). That pooling IS decomposable: greedy
    TP matching is per-image-independent; only the AP integration needs all
    images' (score, tp) pairs per (class, iou_threshold, area bucket). So
    each document emits, per (class, threshold, area): its non-ignored
    prediction scores + 0/1 TP flags (COCO ignore semantics applied
    locally), the kept TP count and TP counts at maxdet 1/10 (per-image
    truncation), the in-range GT count — the shuffle key is (class,
    threshold, area), tiny and uniform — and the row's own per-document AP
    (None when ``n_gt`` is 0). The per-document surface is then plain
    means over these rows: AP as is, AR = tp count / ``n_gt``.

    Rows flatten :func:`_map_partials`: empty size buckets emit no rows; an
    empty ``"all"`` bucket still does (``n_gt`` 0, no scores), so every
    class keeps its per-class key exactly like :func:`evaluate_map`.

    Per document, [{cls, thr_idx, area, scores, tp, n_gt, n_tp, tp_md1,
    tp_md10, ap}]; a document past the :func:`_check_box_budget` limit gets
    None."""
    return [None if isinstance(parts, ValueError) else _stats_rows(parts)
            for parts in _map_partials(docs)]


def _stats_rows(parts: list) -> list[dict]:
    out = []
    for cls, area, n_gt, scores, tp, keep, ap in parts:
        n_tp = tp.sum(axis=1).tolist()
        md1 = tp[:, :1].sum(axis=1).tolist()
        md10 = tp[:, :10].sum(axis=1).tolist()
        ap_l = ap.tolist()
        for t in range(len(IOU_THRESHOLDS)):
            k = keep[t]
            out.append(
                {
                    "cls": int(cls),
                    "thr_idx": t,
                    "area": area,
                    "scores": scores[k].tolist(),
                    "tp": tp[t][k].astype(np.int32).tolist(),
                    "n_gt": n_gt,
                    "n_tp": n_tp[t],
                    "tp_md1": md1[t],
                    "tp_md10": md10[t],
                    "ap": ap_l[t] if n_gt else None,
                }
            )
    return out


def pooled_average_precision(
    scores: np.ndarray, tp: np.ndarray, n_gt: int
) -> float:
    """AP over pooled multi-image detections: global sort by score
    descending (stable), then the usual 101-point interpolation.

    Tie rule: the stable sort keeps the input order among equal scores, so
    callers concatenate the documents in ``doc_id`` order, each in its own
    rank order. Ties then break by score descending, ``doc_id``, then rank
    within the document: pycocotools' accumulate, which stable-sorts the
    scores of images concatenated in image-id order."""
    if n_gt == 0:
        return float("nan")
    if len(scores) == 0:
        return 0.0
    order = np.argsort(-scores, kind="stable")
    return average_precision(tp[order].astype(bool), n_gt)
