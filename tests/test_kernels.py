"""Kernel unit tests — the single-process oracle layer.

Test strategy mirrors the reference (SURVEY.md §5): golden values at
rel-tol 1e-6, error-sentinel semantics, round-trip invariants,
cross-implementation consistency (bit-parallel vs DP Levenshtein, the way
the reference cross-checks C++ vs Python at
benchmarks/edit_distance_benchmark.py:90-102).
"""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_metrics_spark.kernels.levenshtein import (
    levenshtein,
    normalized_edit_distance,
)
from docling_metrics_spark.kernels.textmetrics import (
    evaluate_text_pair,
    set_f_measure,
    set_precision,
    set_recall,
)
from docling_metrics_spark.kernels.tokenize import treebank_tokenize
from docling_metrics_spark.kernels import teds as T
from docling_metrics_spark.kernels.layout import (
    confusion_matrix_from_masks,
    confusion_metrics,
    evaluate_map,
    iou_matrix,
    rasterize_multilabel,
)
from docling_metrics_spark.kernels.minhash import (
    char_shingle_hashes,
    minhash_signature,
    simhash,
)
from reference_kernels import (
    grits,
    jaccard,
    levenshtein_dp,
    merged_map_local,
    teds_from_brackets,
)

REL = 1e-6  # golden tolerance, matching test_text_metrics.py:10


# ---------------------------------------------------------------------------
# Levenshtein
# ---------------------------------------------------------------------------

tokens = st.lists(st.sampled_from("abcdefg"), max_size=40)


@given(tokens, tokens)
@settings(max_examples=300, deadline=None)
def test_levenshtein_bitparallel_matches_dp(a, b):
    assert levenshtein(a, b) == levenshtein_dp(a, b)


def test_normalized_edit_distance_semantics():
    # reference docling_metrics_text.py:198-200
    assert normalized_edit_distance([], []) == 0.0
    assert normalized_edit_distance(["a"], []) == 1.0
    assert normalized_edit_distance(["a", "b"], ["a", "c"]) == 0.5


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------


def test_treebank_tokenize_basics():
    assert treebank_tokenize("Hello, world!") == ["Hello", ",", "world", "!"]
    assert treebank_tokenize("can't") == ["ca", "n't"]
    assert treebank_tokenize("it's") == ["it", "'s"]
    assert treebank_tokenize('"quoted"') == ["``", "quoted", "''"]
    assert treebank_tokenize("wait... what?") == ["wait", "...", "what", "?"]
    assert treebank_tokenize("(parens)") == ["(", "parens", ")"]
    assert treebank_tokenize("") == []
    assert treebank_tokenize("end.") == ["end", "."]


# ---------------------------------------------------------------------------
# Text pair metrics + sentinels
# ---------------------------------------------------------------------------


def test_set_metrics():
    a, b = {"x", "y", "z"}, {"y", "z", "w"}
    assert set_precision(a, b) == pytest.approx(2 / 3, rel=REL)
    assert set_recall(a, b) == pytest.approx(2 / 3, rel=REL)
    assert set_f_measure(a, b) == pytest.approx(2 / 3, rel=REL)
    assert set_precision(a, set()) is None


def test_identical_pair_scores():
    s = evaluate_text_pair("the quick brown fox jumps over", "the quick brown fox jumps over")
    assert s.f1_score == 1.0
    assert s.edit_distance_score == 0.0
    assert s.bleu_score == pytest.approx(1.0, rel=REL)


def test_empty_prediction_sentinels():
    # reference test_text_metrics.py:61-81: empty text_b → error_score for
    # f1/precision/bleu; recall 0; edit distance 1.
    s = evaluate_text_pair("some ground truth text", "")
    assert s.f1_score == -1.0
    assert s.precision_score == -1.0
    assert s.bleu_score == -1.0
    assert s.recall_score == 0.0
    assert s.edit_distance_score == 1.0

    s2 = evaluate_text_pair("some ground truth text", "", error_score=-2.0)
    assert s2.f1_score == -2.0 and s2.bleu_score == -2.0


# ---------------------------------------------------------------------------
# TEDS
# ---------------------------------------------------------------------------

H1 = (
    '<table><tr><td>a b</td><td colspan="2">c</td></tr>'
    "<tr><td>x</td><td>y</td><td>z</td></tr></table>"
)
H2 = (
    '<table><tr><td>a b</td><td colspan="2">d</td></tr>'
    "<tr><td>x</td><td>y</td></tr></table>"
)


def test_bracket_roundtrip():
    b1 = T.html_to_bracket(H1)
    assert T.tree_to_bracket(T.bracket_to_tree(b1)) == b1


def test_html_bracket_html_fixed_point():
    # reference round-trip invariant test_teds_metric.py:292-304
    b1 = T.html_to_bracket(H1)
    html = T._node_to_html(T.bracket_to_tree(b1))
    assert T.html_to_bracket(html) == b1


def test_teds_identical_is_one():
    teds, na, nb = teds_from_brackets(T.html_to_bracket(H1), T.html_to_bracket(H1))
    assert teds == 1.0 and na == nb == 8


def test_teds_known_value():
    # H2 differs from H1 by one cell-content char swap (c→d: rename cost 1.0
    # via char-levenshtein 1/1) and one deleted cell (cost 1): TED = 2,
    # max size = 8 → TEDS = 0.75.
    teds, na, nb = teds_from_brackets(T.html_to_bracket(H1), T.html_to_bracket(H2))
    assert na == 8 and nb == 7
    assert teds == pytest.approx(0.75, rel=REL)


def test_teds_structure_only():
    ta, tb = (
        T.normalize_spans(T.html_to_tree(h, structure_only=True)) for h in (H1, H2)
    )
    teds = 1.0 - T.tree_edit_distance(ta, tb) / max(ta.size(), tb.size())
    # content ignored → only the missing cell costs: 1 - 1/8
    assert teds == pytest.approx(1 - 1 / 8, rel=REL)


def test_teds_span_mismatch_costs_rename():
    h_a = "<table><tr><td>x</td></tr></table>"
    h_b = '<table><tr><td colspan="2">x</td></tr></table>'
    teds, _, _ = teds_from_brackets(T.html_to_bracket(h_a), T.html_to_bracket(h_b))
    assert teds == pytest.approx(1 - 1 / 3, rel=REL)


def test_malformed_bracket_raises():
    # reference: broken.bracket must error (test_teds_metric.py:277-287)
    with pytest.raises(ValueError):
        T.bracket_to_tree('{"tag": table{"tag": tr')
    with pytest.raises(ValueError):
        T.bracket_to_tree("not a bracket")


def test_th_normalized_to_td():
    tree = T.html_to_tree("<table><tr><th>h</th></tr></table>")
    cell = tree.children[0].children[0]
    assert cell.tag == "td" and cell.content == ["h"]


def test_zhang_shasha_vs_bruteforce_small():
    # independent check: TED between a tree and itself plus one leaf == 1
    t1 = T.bracket_to_tree(T.html_to_bracket(H1))
    h_extra = (
        '<table><tr><td>a b</td><td colspan="2">c</td></tr>'
        "<tr><td>x</td><td>y</td><td>z</td><td>w</td></tr></table>"
    )
    t2 = T.bracket_to_tree(T.html_to_bracket(h_extra))
    assert T.tree_edit_distance(t1, t2) == 1.0
    assert T.tree_edit_distance(t1, t1) == 0.0


# ---------------------------------------------------------------------------
# GriTS
# ---------------------------------------------------------------------------

CELLS = [
    {"bbox": [0.0, 0.0, 10.0, 10.0], "cell_text": "a", "row_nums": [0], "column_nums": [0]},
    {"bbox": [10.0, 0.0, 20.0, 10.0], "cell_text": "b", "row_nums": [0], "column_nums": [1]},
    {"bbox": [0.0, 10.0, 10.0, 20.0], "cell_text": "c", "row_nums": [1], "column_nums": [0]},
    {"bbox": [10.0, 10.0, 20.0, 20.0], "cell_text": "d", "row_nums": [1], "column_nums": [1]},
]


GRITS_TASKS = ("topology", "content", "location")


def test_grits_identical():
    assert [grits(CELLS, CELLS, t) for t in GRITS_TASKS] == [1.0, 1.0, 1.0]


def test_grits_content_perturbation():
    import copy

    cells2 = copy.deepcopy(CELLS)
    cells2[3]["cell_text"] = "zz"
    top, con, loc = (grits(CELLS, cells2, t) for t in GRITS_TASKS)
    assert top == 1.0 and loc == 1.0
    assert con == pytest.approx(0.75, rel=REL)


def test_grits_empty():
    assert grits([], [], "content") == 1.0
    assert grits(CELLS, [], "content") == 0.0


# ---------------------------------------------------------------------------
# Layout: IoU / mAP / confusion matrix
# ---------------------------------------------------------------------------


def test_iou():
    import numpy as np

    m = iou_matrix(np.array([[0, 0, 10, 10]]), np.array([[5, 0, 15, 10]]))
    assert m[0, 0] == pytest.approx(50 / 150, rel=REL)


def test_map_perfect_and_miss():
    gt = [(0, [0, 0, 10, 10]), (1, [20, 20, 40, 40])]
    perfect = [(c, b, 0.9) for c, b in gt]
    r = evaluate_map(gt, perfect)
    assert r["map"] == 1.0 and r["map_50"] == 1.0 and r["mar_100"] == 1.0
    r2 = evaluate_map(gt, [(0, [0, 0, 10, 10], 0.9)])  # class 1 missed
    assert r2["map"] == pytest.approx(0.5, rel=REL)


def test_map_wrong_class_is_zero():
    gt = [(0, [0, 0, 10, 10])]
    r = evaluate_map(gt, [(1, [0, 0, 10, 10], 0.9)])
    assert r["map"] == 0.0


def test_confusion_matrix_exact_match_diagonal():
    import numpy as np

    boxes = [(0, [0.0, 0.0, 5.0, 5.0]), (1, [5.0, 5.0, 10.0, 10.0])]
    img = rasterize_multilabel(boxes, 12, 10, n_classes=3)
    cm = confusion_matrix_from_masks(img, img, n_classes=3)
    # invariant: total weight == sum of per-pixel gt popcounts (no overlap
    # here, so == pixel count); reference _validate_contributions full-sum
    assert cm.sum() == pytest.approx(120.0)
    off_diag = cm - np.diag(np.diag(cm))
    assert off_diag.sum() == 0.0
    m = confusion_metrics(cm)
    # class 2 never appears: its precision/recall/f1 are 0 (reference zeros,
    # not NaN) so the plain mean over 4 classes (bg + 3) is 3/4
    assert m["f1_mean"] == pytest.approx(0.75)


def test_confusion_matrix_mismatch():
    # gt = class 0 everywhere, pred = class 1 everywhere → case 4 (mutual
    # difference): all weight lands on (gt class 0 → pred class 1); matrix
    # indices shift by 1 because index 0 is background
    gt = rasterize_multilabel([(0, [0.0, 0.0, 10.0, 10.0])], 10, 10, 2)
    pred = rasterize_multilabel([(1, [0.0, 0.0, 10.0, 10.0])], 10, 10, 2)
    cm = confusion_matrix_from_masks(gt, pred, 2)
    assert cm[1, 2] == 100.0 and cm[1, 1] == 0.0


def test_confusion_matrix_reference_paper_example():
    """The reference's paper fixture (test_multi_label_confusion_matrix.py:
    61-201, from https://csitcp.org/paper/10/108csit01.pdf): 7 pixels over 4
    classes exercising all four contribution cases. Expected values are the
    paper's matrix at exact fractions (the reference asserts the same values
    rounded to 2 dp differ at atol=1e-8 — i.e. it reproduces the paper up to
    the paper's own rounding)."""
    import numpy as np

    from docling_metrics_spark.kernels.layout import confusion_matrix_binary

    def enc(*classes):
        v = 0
        for c in classes:
            v |= 1 << c
        return v

    # (gt, pred) per pixel; classes A,B,C,D = bits 0..3
    A, B, C, D = 0, 1, 2, 3
    pixels = [
        (enc(A, B), enc(A, B)),        # case 1 exact
        (enc(B, C), enc(A, B, C)),     # case 2 pred ⊇ gt
        (enc(D), enc(A, D)),           # case 2
        (enc(A, B, C, D), enc(B, C, D)),  # case 3 gt ⊇ pred
        (enc(B, C), enc(B)),           # case 3
        (enc(B, C), enc(A, B)),        # case 4 mutual diff
        (enc(B, D), enc(A, C)),        # case 4, empty intersection
    ]
    gt = np.array([g for g, _ in pixels], dtype=np.uint64).reshape(1, -1)
    pred = np.array([p for _, p in pixels], dtype=np.uint64).reshape(1, -1)
    cm = confusion_matrix_binary(gt, pred, 4)

    expected = np.array(
        [
            [1.0, 1 / 3, 1 / 3, 1 / 3],
            [5 / 6, 14 / 3, 1 / 2, 0.0],
            [4 / 3, 1.0, 5 / 3, 0.0],
            [1.0, 0.0, 1 / 2, 3 / 2],
        ]
    )
    assert np.allclose(cm, expected, atol=1e-12)
    # reference-asserted normalization invariants: precision columns and
    # recall rows each sum to 1
    precision = cm / cm.sum(axis=0, keepdims=True)
    recall = cm / cm.sum(axis=1, keepdims=True)
    assert np.allclose(precision.sum(axis=0), 1.0)
    assert np.allclose(recall.sum(axis=1), 1.0)
    # total weight = Σ popcount(gt)
    assert cm.sum() == pytest.approx(sum(bin(g).count("1") for g, _ in pixels))


def test_confusion_matrix_vs_naive_per_pixel():
    """Vectorized algebra == straightline per-pixel evaluation of the four
    reference cases, on randomized non-empty masks."""
    import numpy as np

    from docling_metrics_spark.kernels.layout import confusion_matrix_binary

    rng = np.random.default_rng(7)
    C = 5

    def naive(gt, pred):
        cm = np.zeros((C, C))
        for g, p in zip(gt.ravel().tolist(), pred.ravel().tolist()):
            gset = {i for i in range(C) if g >> i & 1}
            pset = {i for i in range(C) if p >> i & 1}
            if g == p:
                for i in gset:
                    cm[i, i] += 1
            elif gset < pset:
                for i in gset:
                    cm[i, i] += len(gset) / len(pset)
                    for j in pset - gset:
                        cm[i, j] += 1 / len(pset)
            elif pset < gset:
                for i in pset:
                    cm[i, i] += 1
                for i in gset - pset:
                    for j in pset:
                        cm[i, j] += 1 / len(pset)
            else:
                for i in gset & pset:
                    cm[i, i] += 1
                for i in gset - pset:
                    for j in pset - gset:
                        cm[i, j] += 1 / len(pset - gset)
        return cm

    for trial in range(10):
        gt = rng.integers(1, 2**C, size=(6, 7)).astype(np.uint64)
        pred = rng.integers(1, 2**C, size=(6, 7)).astype(np.uint64)
        got = confusion_matrix_binary(gt, pred, C)
        assert np.allclose(got, naive(gt, pred), atol=1e-12), f"trial {trial}"


# ---------------------------------------------------------------------------
# MinHash / SimHash
# ---------------------------------------------------------------------------


def test_minhash_estimates_jaccard():
    import numpy as np

    a = char_shingle_hashes("the quick brown fox jumps over the lazy dog", 5)
    b = char_shingle_hashes("the quick brown fox jumped over the lazy dog", 5)
    true_j = jaccard(set(a.tolist()), set(b.tolist()))
    est = np.mean(minhash_signature(a, 256) == minhash_signature(b, 256))
    assert abs(est - true_j) < 0.15
    assert np.all(minhash_signature(a, 64) == minhash_signature(a, 64))


def test_simhash_near_duplicates_close():
    t1 = "the quick brown fox jumps over the lazy dog again and again".split()
    t2 = "the quick brown fox jumps over the lazy cat again and again".split()
    t3 = "completely different words describing other things entirely here".split()
    d_near = (simhash(t1) ^ simhash(t2)).bit_count()
    d_far = (simhash(t1) ^ simhash(t3)).bit_count()
    assert d_near < d_far


def test_html_to_cells_handles_thead_tbody():
    """Rows wrapped in thead/tbody (the shape the reference's cells_to_html
    emits) must not be dropped (ADVICE r1; reference grits.py:487-534
    stack-walks the whole tree)."""
    from docling_metrics_spark.kernels.grits import html_to_cells

    flat = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
    wrapped = (
        "<table><thead><tr><th>a</th><th>b</th></tr></thead>"
        "<tbody><tr><td>c</td><td>d</td></tr></tbody></table>"
    )
    cf, cw = html_to_cells(flat), html_to_cells(wrapped)
    assert len(cw) == 4
    assert [c["cell_text"] for c in cw] == [c["cell_text"] for c in cf]
    assert [c["row_nums"] for c in cw] == [c["row_nums"] for c in cf]


def test_teds_fast_path_size_with_braces_in_cell_text():
    """Identical-bracket fast path must report tree sizes, not '{' counts —
    braces inside JSON-embedded cell text inflated the count (ADVICE r1)."""
    import docling_metrics_spark.kernels.teds as T

    h = "<table><tr><td>{x} and {y}</td></tr></table>"
    b = T.html_to_bracket(h)
    teds, na, nb = teds_from_brackets(b, b)
    assert teds == 1.0
    assert na == nb == T.bracket_to_tree(b).size()
    # and the sizes agree with the non-identical path for the same tree
    h2 = "<table><tr><td>other</td></tr></table>"
    _, na2, _ = teds_from_brackets(b, T.html_to_bracket(h2))
    assert na == na2


def test_map_full_surface_size_buckets():
    """Hand-computed size-bucketed surface: one small-area class-0 GT
    (10×10=100 < 32²) and one medium class-1 GT (60×60=3600), perfectly
    predicted. Absent buckets report the torchmetrics -1.0 sentinel."""
    gt = [(0, [0, 0, 10, 10]), (1, [0, 0, 60, 60])]
    pred = [(c, b, 0.9) for c, b in gt]
    r = evaluate_map(gt, pred)
    assert r["map"] == 1.0
    assert r["map_small"] == 1.0      # only class 0 has in-range GT
    assert r["map_medium"] == 1.0     # only class 1
    assert r["map_large"] == -1.0     # no large GT at all
    assert r["mar_1"] == 1.0          # one det per class → maxdet 1 suffices
    assert r["mar_10"] == 1.0 and r["mar_100"] == 1.0
    assert r["mar_small"] == 1.0 and r["mar_large"] == -1.0
    assert r["map_per_class"] == {"cat_0": 1.0, "cat_1": 1.0}
    assert r["mar_100_per_class"] == {"cat_0": 1.0, "cat_1": 1.0}


def test_map_area_ignore_semantics():
    """COCO ignore rule: in the small bucket, a higher-scored detection
    matched to an out-of-range (large) GT must be IGNORED, not counted as a
    false positive ahead of the small TP."""
    gt = [(0, [0, 0, 10, 10]), (0, [0, 0, 200, 200])]
    pred = [(0, [0, 0, 200, 200], 0.9), (0, [0, 0, 10, 10], 0.8)]
    r = evaluate_map(gt, pred)
    assert r["map"] == 1.0
    assert r["map_small"] == 1.0   # would be ~0.5 if the large det were FP
    assert r["map_large"] == 1.0


def test_map_mar_maxdet_truncation():
    """mar_1 truncates to the single best-scored detection per class."""
    gt = [(0, [0, 0, 10, 10]), (0, [20, 20, 30, 30])]
    pred = [(0, [0, 0, 10, 10], 0.9), (0, [20, 20, 30, 30], 0.8)]
    r = evaluate_map(gt, pred)
    assert r["mar_1"] == 0.5
    assert r["mar_10"] == 1.0
    assert r["map"] == 1.0


def test_map_pred_only_class_sentinel():
    """A class present only in predictions has no GT: excluded from map,
    reported as -1.0 in the per-class dict (torchmetrics behavior)."""
    gt = [(0, [0, 0, 10, 10])]
    pred = [(0, [0, 0, 10, 10], 0.9), (7, [0, 0, 10, 10], 0.9)]
    r = evaluate_map(gt, pred)
    assert r["map"] == 1.0
    assert r["map_per_class"]["cat_7"] == -1.0


def test_map_core_surface_matches_full():
    """surface="core" (the flagship hot path) must equal the full surface
    on every overlapping field — the kernel prunes work, never changes
    numbers (VERDICT r2 #2 done-criterion)."""
    import random

    rng = random.Random(1234)
    checked = 0
    for _ in range(60):
        gt = []
        pred = []
        for _ in range(rng.randint(0, 8)):
            x, y = rng.uniform(0, 500), rng.uniform(0, 600)
            gt.append((rng.randint(0, 4),
                       [x, y, x + rng.uniform(1, 250), y + rng.uniform(1, 250)]))
        for _ in range(rng.randint(0, 10)):
            x, y = rng.uniform(0, 500), rng.uniform(0, 600)
            pred.append((rng.randint(0, 4),
                         [x, y, x + rng.uniform(1, 250), y + rng.uniform(1, 250)],
                         rng.random()))
        full = evaluate_map(gt, pred)
        core = evaluate_map(gt, pred, surface="core")
        assert set(core) == {"map", "map_50", "map_75", "mar_100"}
        for k in core:
            assert core[k] == full[k], (k, core[k], full[k])
        assert merged_map_local([(gt, pred)]) == full
        checked += 1
    assert checked == 60
    # empty-input sentinel shape agrees too
    assert evaluate_map([], [], surface="core") == {
        "map": -1.0, "map_50": -1.0, "map_75": -1.0, "mar_100": -1.0
    }


def test_map_core_matches_full_on_degenerate_boxes():
    """The "all" area range IGNORES degenerate (inverted, negative-area)
    and giant (>1e10 area) boxes; the core surface applies the same ignore
    rule, so core == full holds on EVERY input, not just well-formed ones
    (round-3 review finding)."""
    import math
    import random

    # inverted GT is ignored → npig 0 → every bucket NaN → -1.0 sentinel
    gt = [(0, [10.0, 10.0, 5.0, 20.0])]
    pred = [(0, [0.0, 0.0, 10.0, 10.0], 0.9)]
    core = evaluate_map(gt, pred, surface="core")
    full = evaluate_map(gt, pred)
    assert core["map"] == full["map"] == -1.0

    rng = random.Random(99)

    def rbox():
        x, y = rng.uniform(-10, 50), rng.uniform(-10, 50)
        r = rng.random()
        if r < 0.3:
            return [x, y, x - rng.uniform(0, 20), y - rng.uniform(0, 20)]
        if r < 0.4:
            return [x, y, x + 2e5, y + 2e5]  # area > 1e10 → ignored
        return [x, y, x + rng.uniform(0.1, 60), y + rng.uniform(0.1, 60)]

    for _ in range(300):
        gt = [(rng.randint(0, 2), rbox()) for _ in range(rng.randint(0, 6))]
        pred = [
            (rng.randint(0, 2), rbox(), round(rng.random(), 2))
            for _ in range(rng.randint(0, 6))
        ]
        core = evaluate_map(gt, pred, surface="core")
        full = evaluate_map(gt, pred)
        for k in core:
            same = core[k] == full[k] or (
                math.isnan(core[k]) and math.isnan(full[k])
            )
            assert same, (k, core[k], full[k], gt, pred)
        assert merged_map_local([(gt, pred)]) == full


def _reference_match(ious, gt_ig, thr):
    """Scalar greedy COCO matching with ignore semantics (the published
    pycocotools evaluateImg algorithm), one threshold at a time: the
    reference the batched matcher is fuzzed against. dts in
    descending-score order claim the highest-IoU unmatched GT ≥ thr; GT
    rows are pre-sorted non-ignored first, and a dt may fall through to an
    ignored GT only when no valid GT remains. Returns (dtm gt-row-index or
    -1 per dt, matched-an-ignored-GT flags)."""
    import numpy as np

    n_gt, n_dt = ious.shape
    ious_l = ious.T.tolist()  # [n_dt][n_gt]
    ig_l = gt_ig.tolist()
    gtm = [-1] * n_gt
    dtm = np.full(n_dt, -1, dtype=np.int64)
    dt_ig = np.zeros(n_dt, dtype=bool)
    for d in range(n_dt):
        row = ious_l[d]
        best = min(thr, 1.0 - 1e-10)
        m = -1
        for g in range(n_gt):
            if gtm[g] >= 0:
                continue
            if m > -1 and not ig_l[m] and ig_l[g]:
                break  # remaining gts are all ignored (sorted)
            if row[g] < best:
                continue
            best = row[g]
            m = g
        if m == -1:
            continue
        dtm[d] = m
        gtm[m] = d
        dt_ig[d] = ig_l[m]
    return dtm, dt_ig


def test_batched_matcher_equals_scalar_reference():
    """The one COCO matcher (all IoU thresholds in one pass over the
    detections) equals the scalar loop run per threshold on GTs sorted
    in-range first, for every area range's ignore mask: inverted and giant
    (area > 1e10) boxes, IoU ties from boxes on a coarse grid,
    and empty GT or prediction sides."""
    import random

    import numpy as np

    from docling_metrics_spark.kernels.layout import (
        AREA_RANGES,
        IOU_THRESHOLDS,
        _match_all_thresholds,
    )

    rng = random.Random(606)

    def rbox(coarse):
        if coarse:
            # 40×40 boxes on a 5-px grid: a dt halfway between two GTs
            # ties on IoU, and which one it takes decides later dts
            x, y = 5.0 * rng.randrange(9), 5.0 * rng.randrange(9)
            w, h = 40.0, 40.0
        else:
            x, y = rng.uniform(-10, 300), rng.uniform(-10, 300)
            w, h = rng.uniform(0.5, 150), rng.uniform(0.5, 150)
        r = rng.random()
        if r < 0.1:
            return [x + w, y, x, y + h]  # inverted: negative area
        if r < 0.2:
            return [x, y, x + 2e5, y + 2e5]  # giant: area > 1e10
        return [x, y, x + w, y + h]

    seen = {"ignored_match": 0, "tie": 0, "empty": 0}
    for case in range(400):
        coarse = case % 2 == 1
        g = np.array([rbox(coarse) for _ in range(rng.randint(0, 12))],
                     dtype=np.float64).reshape(-1, 4)
        p = []
        for _ in range(rng.randint(0, 15)):
            if len(g) and not coarse and rng.random() < 0.6:
                p.append(list(g[rng.randrange(len(g))] + rng.uniform(-6, 6)))
            else:
                p.append(rbox(coarse))
        pb = np.array(p, dtype=np.float64).reshape(-1, 4)
        ious = iou_matrix(g, pb)
        g_area = (g[:, 2] - g[:, 0]) * (g[:, 3] - g[:, 1])
        seen["empty"] += ious.size == 0
        seen["tie"] += any(len(set(r)) < len(r) for r in ious.T.tolist()
                           if max(r, default=0) >= 0.5)
        for lo, hi in AREA_RANGES.values():
            gt_ig = (g_area < lo) | (g_area > hi)
            tp, on_ig = (f[0] for f in _match_all_thresholds(ious[None], gt_ig[None]))
            order = np.argsort(gt_ig, kind="stable")
            for ti, thr in enumerate(IOU_THRESHOLDS):
                dtm, dt_ig = _reference_match(ious[order], gt_ig[order], thr)
                assert tp[ti].tolist() == ((dtm >= 0) & ~dt_ig).tolist(), (
                    case, thr)
                assert on_ig[ti].tolist() == dt_ig.tolist(), (case, thr)
            seen["ignored_match"] += bool(on_ig.any())
    assert all(n >= 20 for n in seen.values()), seen


def test_cells_to_html_roundtrip_fixed_point():
    """cells→html→cells is a fixed point on topology, header flags, and
    text (reference cells_to_html contract, grits.py:425-485)."""
    from docling_metrics_spark.kernels.grits import cells_to_html, html_to_cells

    cells = [
        {"row_nums": [0], "column_nums": [0, 1], "is_column_header": True,
         "cell_text": "wide header", "bbox": [0, 0, 1, 1]},
        {"row_nums": [1, 2], "column_nums": [0], "is_column_header": False,
         "cell_text": "tall <cell> & co", "bbox": [0, 0, 1, 1]},
        {"row_nums": [1], "column_nums": [1], "is_column_header": False,
         "cell_text": "x", "bbox": [0, 0, 1, 1]},
        {"row_nums": [2], "column_nums": [1], "is_column_header": False,
         "cell_text": "y", "bbox": [0, 0, 1, 1]},
    ]
    html = cells_to_html(cells)
    assert html.startswith("<table><tbody>") and "<th" in html
    reparsed = html_to_cells(html)

    def key(cs):
        return sorted(
            (tuple(c["row_nums"]), tuple(c["column_nums"]),
             c["is_column_header"], c["cell_text"])
            for c in cs
        )

    assert key(reparsed) == key(cells)
    # second pass is byte-identical (true fixed point)
    assert cells_to_html(reparsed) == html


def test_cells_to_html_empty_and_header_alias():
    from docling_metrics_spark.kernels.grits import cells_to_html

    assert cells_to_html([]) == "<table></table>"
    # the evaluation schema's "header" key is honored too
    h = cells_to_html(
        [{"row_nums": [0], "column_nums": [0], "header": True, "cell_text": "h"}]
    )
    assert "<th>h</th>" in h


def test_deeply_nested_table_raises_value_error_not_recursion():
    """Adversarially deep nesting must surface as ValueError (caught by the
    UDF error channels), never RecursionError (which would kill the
    executor task)."""
    deep = "<table><tr><td>" * 2000 + "x" + "</td></tr></table>" * 2000
    with pytest.raises(ValueError, match="nesting"):
        T.html_to_bracket(deep)
    # the cells path shares the parser, so it is protected too
    from docling_metrics_spark.kernels.grits import html_to_cells

    with pytest.raises(ValueError, match="nesting"):
        html_to_cells(deep)
    # moderately nested tables still parse
    ok = "<table><tr><td><table><tr><td>x</td></tr></table></td></tr></table>"
    assert T.html_to_bracket(ok)


def test_hostile_span_attributes_bounded():
    """A colspan/rowspan bomb must neither hang nor allocate gigabytes:
    html parsing clamps spans, and grids reject dimensions beyond
    MAX_GRID_DIM with ValueError (caught by the UDF error channels)."""
    from docling_metrics_spark.kernels.grits import (
        MAX_GRID_DIM,
        cells_to_grid,
        html_to_cells,
    )

    cells = html_to_cells(
        '<table><tr><td colspan="1000000000" rowspan="999999">x</td></tr></table>'
    )
    assert len(cells[0]["column_nums"]) == MAX_GRID_DIM
    assert len(cells[0]["row_nums"]) == MAX_GRID_DIM

    with pytest.raises(ValueError, match="exceeds"):
        cells_to_grid(
            [{"row_nums": [10**9], "column_nums": [0], "cell_text": "x",
              "bbox": [0, 0, 1, 1]}],
            "text",
        )


# ---------------------------------------------------------------------------
# Exactness references for the flat-array Zhang–Shasha and the TEDS tree memo
# ---------------------------------------------------------------------------


def _reference_ted(root1, root2) -> float:
    """The scalar Zhang–Shasha the kernel replaced: a full forest-distance
    matrix per keyroot pair and a rename cost looked up per node pair."""

    def rename_cost(n1, n2):
        if (n1.tag != n2.tag or (n1.colspan or None) != (n2.colspan or None)
                or (n1.rowspan or None) != (n2.rowspan or None)):
            return 1.0
        if n1.tag in ("td", "th"):
            c1, c2 = n1.content or [], n2.content or []
            if c1 or c2:
                return levenshtein(c1, c2) / max(len(c1), len(c2))
        return 0.0

    def postorder(root):
        nodes, lml = [], []

        def visit(node):
            first = None
            for child in node.children:
                idx = visit(child)
                if first is None:
                    first = lml[idx]
            nodes.append(node)
            lml.append(len(nodes) - 1 if first is None else first)
            return len(nodes) - 1

        visit(root)
        return nodes, lml

    t1, l1 = postorder(root1)
    t2, l2 = postorder(root2)
    n1, n2 = len(t1), len(t2)
    td = [[0.0] * n2 for _ in range(n1)]
    for i in sorted({l1[k]: k for k in range(n1)}.values()):
        for j in sorted({l2[k]: k for k in range(n2)}.values()):
            li, lj = l1[i], l2[j]
            m, n = i - li + 2, j - lj + 2
            fd = [[0.0] * n for _ in range(m)]
            for x in range(1, m):
                fd[x][0] = fd[x - 1][0] + 1.0
            for y in range(1, n):
                fd[0][y] = fd[0][y - 1] + 1.0
            for x in range(1, m):
                for y in range(1, n):
                    a, b = li + x - 1, lj + y - 1
                    if l1[a] == li and l2[b] == lj:
                        fd[x][y] = min(fd[x - 1][y] + 1.0, fd[x][y - 1] + 1.0,
                                       fd[x - 1][y - 1] + rename_cost(t1[a], t2[b]))
                        td[a][b] = fd[x][y]
                    else:
                        fd[x][y] = min(fd[x - 1][y] + 1.0, fd[x][y - 1] + 1.0,
                                       fd[l1[a] - li][l2[b] - lj] + td[a][b])
    return td[n1 - 1][n2 - 1]


def test_flat_zhang_shasha_equals_scalar_reference():
    """Bit-identical TED on random trees: cells with colspan/rowspan None,
    0 or 2, th and td tags (th is not normalized on bracket input), shared
    and empty contents, cells with child tables, non-cell leaves."""
    import random

    rng = random.Random(77)

    def rtree(depth=0):
        r = rng.random()
        if depth >= 3 or r < 0.45:
            if rng.random() < 0.15:
                return T.TableNode(rng.choice(["tr", "col"]))
            node = T.TableNode(
                rng.choice(["td", "td", "th"]),
                colspan=rng.choice([None, 0, 1, 2]),
                rowspan=rng.choice([None, 0, 1, 2]),
                content=rng.choice([None, [], list(rng.choice(["ab", "ba", "abc", "x"]))]),
            )
            if rng.random() < 0.1:
                node.children.append(rtree(depth + 1))
            return node
        return T.TableNode(rng.choice(["table", "tr", "thead"]),
                           children=[rtree(depth + 1) for _ in range(rng.randint(1, 4))])

    for case in range(3000):
        a, b = rtree(), rtree() if case % 5 else None
        if b is None:  # a near twin: shares most structure and content
            b = T.bracket_to_tree(T.tree_to_bracket(a))
            b.children.append(T.TableNode("td", 1, 1, ["a"]))
        assert T.tree_edit_distance(a, b) == _reference_ted(a, b), case


_EDGE_TABLES = [
    None,
    "<table",
    "<p>no table</p>",
    "<table></table>",
    "<table><tr><td>a</td><td>b</td></tr></table>",
    "<table><tr><th>a</th><td>b</td></tr></table>",
    '<table><tr><td colspan="0">a</td><td rowspan="2">b</td></tr></table>',
    '<table><tr><td colspan="-1">a</td></tr></table>',
    '<table><tr><td rowspan="-3">a</td></tr></table>',
    '<table><tr><td colspan="">a</td><td colspan>b</td></tr></table>',
    '<table><tr><td colspan="2">a</td></tr><tr><td>x</td><td>y</td></tr></table>',
    "<table><tr><td>a<table><tr><td>in</td></tr></table></td></tr></table>",
    "<table><tr><td>x &amp; y &lt;b&gt;</td></tr></table>",
    "<table><caption>cap</caption><colgroup><col><col></colgroup>"
    "<thead><tr><th>h</th></tr></thead><tr><td>a</td></tr></table>",
    "<table><tr><td>ab</td><td>abc</td></tr><tr><td>b</td></tr></table>",
    "<table><tr><td>ba</td><td>abc</td></tr><tr><td>b</td><td></td></tr></table>",
]


def test_tree_memo_teds_pairs_equal_bracket_path():
    """Per-pair TEDS rows from the tree memo equal the bracket round trip
    (HTML → bracket string → tree → TED, the equal-string shortcut and the
    error sentinel) on documents of edge-case tables."""
    import random

    from docling_metrics_spark.operators.udfs import _doc_teds_pairs

    def bracket_pairs(gt, pred):
        memo = {}

        def bracket(html):
            if html is None:
                return None
            if html not in memo:
                try:
                    memo[html] = T.html_to_bracket(html)
                except ValueError:
                    memo[html] = None
            return memo[html]

        rows = []
        for i in range(max(len(gt), len(pred))):
            if i >= len(gt) or i >= len(pred):
                rows.append({"idx": i, "score": 0.0, "err": False})
                continue
            ba, bb = bracket(gt[i]), bracket(pred[i])
            try:
                if ba is None or bb is None:
                    raise ValueError
                rows.append({"idx": i, "score": teds_from_brackets(ba, bb)[0],
                             "err": False})
            except ValueError:
                rows.append({"idx": i, "score": 0.0, "err": True})
        return rows

    rng = random.Random(5)
    for _ in range(2000):
        gt = [rng.choice(_EDGE_TABLES) for _ in range(rng.randint(0, 4))]
        pred = [rng.choice(_EDGE_TABLES) for _ in range(rng.randint(0, 4))]
        assert _doc_teds_pairs(gt, pred) == bracket_pairs(gt, pred), (gt, pred)


def test_map_batch_invariance():
    """A document's core and full ``evaluate_map`` and its ``match_stats``
    rows are identical whether it is matched alone or inside a mixed batch
    (padded shape buckets shared with other documents' groups): giants,
    empty documents, inverted and giant-area boxes, score ties — and a
    100k-box document that is refused in its own entry only."""
    import random

    from docling_metrics_spark.kernels.layout import (
        evaluate_map_docs,
        match_stats_docs,
    )

    rng = random.Random(2024)

    def rbox():
        x, y = rng.uniform(0, 400), rng.uniform(0, 400)
        w, h = rng.uniform(1, 200), rng.uniform(1, 200)
        r = rng.random()
        if r < 0.1:
            return [x + w, y, x, y + h]  # inverted
        if r < 0.15:
            return [x, y, x + 2e5, y + 2e5]  # area > 1e10
        return [x, y, x + w, y + h]

    def rdoc(n_gt, n_pred, n_cls=4):
        gt = [(rng.randrange(n_cls), rbox()) for _ in range(n_gt)]
        pred = []
        for _ in range(n_pred):
            if gt and rng.random() < 0.6:
                c, b = rng.choice(gt)
                pred.append((c, [v + rng.uniform(-8, 8) for v in b],
                             round(rng.random(), 1)))
            else:
                pred.append((rng.randrange(n_cls), rbox(), round(rng.random(), 1)))
        return gt, pred

    docs = [rdoc(rng.randint(0, 9), rng.randint(0, 12)) for _ in range(60)]
    docs += [([], []), ([(0, [0, 0, 10, 10])], []), ([], [(1, [0, 0, 5, 5], 0.5)])]
    docs += [rdoc(300, 250, n_cls=2), rdoc(40, 150, n_cls=1)]  # giants
    hostile = [(0, [0.0, 0.0, 1.0, 1.0])] * 60_000
    docs.insert(30, (hostile, [(0, [0.0, 0.0, 1.0, 1.0], 0.5)] * 40_001))
    rng.shuffle(docs)

    core = evaluate_map_docs(docs, surface="core")
    full = evaluate_map_docs(docs)
    stats = match_stats_docs(docs)
    for k, (gt, pred) in enumerate(docs):
        if len(gt) + len(pred) > 100_000:
            assert core[k] is full[k] is stats[k] is None
            with pytest.raises(ValueError, match="too many boxes"):
                evaluate_map(gt, pred)
            continue
        assert core[k] == evaluate_map(gt, pred, surface="core"), k
        assert full[k] == evaluate_map(gt, pred), k
        assert stats[k] == match_stats_docs([(gt, pred)])[0], k
    assert sum(r is None for r in core) == 1
