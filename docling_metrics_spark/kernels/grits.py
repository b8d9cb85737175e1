"""GriTS — Grid Table Similarity (topology / content / location), from the
published formulation (Smock, Pesala & Abraham, "GriTS: Grid table
similarity metric for table structure recognition", 2022).

Reference parity target: packages/docling-metrics-table/docling_metrics_table/
utils/grits.py (factored 2D-MSS 89-236; rewards 238-275; grids 277-316).
This is an independent implementation of the same published algorithm:

1. Tables become dense 2D grids of cell entries (text, bbox, relative-span
   4-vector) from the cell list's row_nums/column_nums.
2. ``_align_1d`` — order-preserving sequence alignment DP maximizing summed
   rewards (LCS-with-weights).
3. Factored 2D-MSS: align row sequences (reward between two rows = 1D
   alignment over their cells), align column sequences on the transpose,
   then sum the cell rewards implied by the (row-match × column-match)
   product — the paper's factored approximation of the NP-hard 2D-MSS.
4. GriTS_f = 2·reward_sum / (n_cells_a + n_cells_b).

Cell similarity per task: topology = IoU of relative-span rectangles;
content = 2·|LCS| / (|s1|+|s2|) over characters; location = bbox IoU.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np

from docling_metrics_spark.kernels.layout import iou_matrix


# Largest grid dimension accepted (rows or cols): the dense grid and the
# 2D-MSS DP are O(rows·cols); a hostile colspan/rowspan attribute or cell
# record would otherwise allocate gigabytes. Far beyond real tables.
MAX_GRID_DIM = 1_000


def cells_to_grid(cells: list[dict], field: str):
    """Dense (rows × cols) grid of per-cell values; None where empty.

    field: 'text' | 'bbox' | 'relspan'. Raises ValueError when a dimension
    exceeds :data:`MAX_GRID_DIM` (hostile span values — the UDF error
    channels catch ValueError)."""
    if not cells:
        return []
    n_rows = 1 + max(max(c["row_nums"]) for c in cells)
    n_cols = 1 + max(max(c["column_nums"]) for c in cells)
    if n_rows > MAX_GRID_DIM or n_cols > MAX_GRID_DIM:
        raise ValueError(
            f"table grid {n_rows}x{n_cols} exceeds {MAX_GRID_DIM}"
        )
    grid = [[None] * n_cols for _ in range(n_rows)]
    for c in cells:
        r0, r1 = min(c["row_nums"]), max(c["row_nums"])
        c0, c1 = min(c["column_nums"]), max(c["column_nums"])
        for i in c["row_nums"]:
            for j in c["column_nums"]:
                if field == "text":
                    grid[i][j] = c.get("cell_text") or ""
                elif field == "bbox":
                    grid[i][j] = c.get("bbox")
                else:  # relative span 4-vector
                    grid[i][j] = (c0 - j, c1 - j + 1, r0 - i, r1 - i + 1)
    return grid


_LCS_CACHE: dict[tuple[str, str], float] = {}
_LCS_CACHE_MAX = 1_000_000


def lcs_similarity(s1: str, s2: str) -> float:
    """2·|LCS|/(|s1|+|s2|) via SequenceMatcher matching blocks — the
    reference's exact formula (_lcs_similarity, grits.py:238-255) — with an
    executor-local cache (the reference's LCSCache, grits.py:11-56, default
    10M entries); repeated cell texts across a corpus hit constantly. The
    key is ORDER-SENSITIVE like the reference's: Ratcliff-Obershelp
    matching blocks are not guaranteed symmetric in (s1, s2)."""
    if not s1 and not s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    key = (s1, s2)
    v = _LCS_CACHE.get(key)
    if v is None:
        m = sum(
            b.size for b in SequenceMatcher(None, s1, s2).get_matching_blocks()
        )
        v = 2.0 * m / (len(s1) + len(s2))
        if len(_LCS_CACHE) < _LCS_CACHE_MAX:
            _LCS_CACHE[key] = v
    return v


def _span_iou(a, b) -> float:
    """IoU of two relative-span rectangles (c0, c1, r0, r1)."""
    w = min(a[1], b[1]) - max(a[0], b[0])
    h = min(a[3], b[3]) - max(a[2], b[2])
    inter = max(w, 0) * max(h, 0)
    area_a = (a[1] - a[0]) * (a[3] - a[2])
    area_b = (b[1] - b[0]) * (b[3] - b[2])
    union = area_a + area_b - inter
    return inter / union if union > 0 else 0.0


def _bbox_iou(a, b) -> float:
    if a is None or b is None:
        return 0.0
    return float(iou_matrix(np.array([a]), np.array([b]))[0, 0])


def cell_reward(task: str):
    if task == "content":
        return lambda a, b: lcs_similarity(a or "", b or "")
    if task == "location":
        return _bbox_iou
    if task == "topology":
        return lambda a, b: 0.0 if (a is None or b is None) else _span_iou(a, b)
    raise ValueError(task)


def align_1d(seq_a, seq_b, reward_fn) -> tuple[float, list[tuple[int, int]]]:
    """Order-preserving max-reward alignment (weighted LCS DP)."""
    n, m = len(seq_a), len(seq_b)
    if n == 0 or m == 0:
        return 0.0, []
    score = np.zeros((n + 1, m + 1))
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            r = reward_fn(seq_a[i - 1], seq_b[j - 1])
            score[i, j] = max(score[i - 1, j], score[i, j - 1], score[i - 1, j - 1] + r)
    # Backtrack the matching.
    pairs: list[tuple[int, int]] = []
    i, j = n, m
    while i > 0 and j > 0:
        if score[i, j] == score[i - 1, j]:
            i -= 1
        elif score[i, j] == score[i, j - 1]:
            j -= 1
        else:
            pairs.append((i - 1, j - 1))
            i -= 1
            j -= 1
    pairs.reverse()
    return float(score[n, m]), pairs


def _transpose(grid):
    return [list(col) for col in zip(*grid)] if grid else []


def grits_detail(cells_a: list[dict], cells_b: list[dict],
                 task: str) -> tuple[float, int, int]:
    """(matched-reward total, grid cells A, grid cells B) for one task —
    the un-normalized triple behind the GriTS f-score (f = 2·total/(na+nb)),
    exposed so the pairs-materializing query can persist it and a SQL
    oracle re-derive the f-score normalization."""
    field = {"topology": "relspan", "content": "text", "location": "bbox"}[task]
    ga, gb = cells_to_grid(cells_a, field), cells_to_grid(cells_b, field)
    na = sum(len(r) for r in ga)
    nb = sum(len(r) for r in gb)
    if na == 0 or nb == 0:
        return 0.0, na, nb
    reward = cell_reward(task)

    def row_reward(row_a, row_b):
        s, _ = align_1d(row_a, row_b, reward)
        return s / max(len(row_a), len(row_b))

    _, row_pairs = align_1d(ga, gb, row_reward)
    _, col_pairs = align_1d(_transpose(ga), _transpose(gb), row_reward)

    total = 0.0
    col_map = dict(col_pairs)
    for ra, rb in row_pairs:
        for ca, cb in col_map.items():
            total += reward(ga[ra][ca], gb[rb][cb])
    return total, na, nb


def html_to_cells(html: str) -> list[dict]:
    """Table HTML → GriTS cell list (reference pattern: grits.py:487-534).

    Walks the parsed table tree row by row, placing each cell at the first
    free column slot and expanding colspan/rowspan into row_nums/column_nums.
    Synthetic bboxes are derived from the grid position so the location task
    is exercised deterministically."""
    from docling_metrics_spark.kernels.teds import html_to_tree

    tree = html_to_tree(html)

    # Collect tr nodes from the WHOLE tree (rows are routinely wrapped in
    # thead/tbody/tfoot — the shape the reference's own cells_to_html emits;
    # its html_to_cells stack-walks every node, grits.py:487-534).
    rows: list = []
    stack = [tree]
    while stack:
        node = stack.pop()
        if node.tag == "tr":
            rows.append(node)
        else:
            stack.extend(reversed(node.children))

    occupied: dict[tuple[int, int], bool] = {}
    cells: list[dict] = []
    for r, row in enumerate(rows):
        c = 0
        for cell in row.children:
            if cell.tag not in ("td", "th"):
                continue
            while occupied.get((r, c)):
                c += 1
            # clamp hostile span attributes BEFORE expanding to ranges
            rowspan = min(max(cell.rowspan or 1, 1), MAX_GRID_DIM)
            colspan = min(max(cell.colspan or 1, 1), MAX_GRID_DIM)
            row_nums = list(range(r, r + rowspan))
            col_nums = list(range(c, c + colspan))
            for i in row_nums:
                for j in col_nums:
                    occupied[(i, j)] = True
            cells.append({
                "cell_text": "".join(cell.content) if cell.content else "",
                "row_nums": row_nums,
                "column_nums": col_nums,
                "is_column_header": cell.header,
                "bbox": [c * 100.0, r * 30.0,
                         (c + colspan) * 100.0, (r + rowspan) * 30.0],
            })
            c += colspan
    return cells


def cells_to_html(cells: list[dict]) -> str:
    """GriTS cell list → canonical HTML table (reference grits.py:425-485).

    Canonical form: cells sorted by (start row, start col), one ``<tr>`` per
    grid row inside ``<tbody>``, colspan/rowspan attributes only when > 1,
    ``th`` for header cells (``header`` or ``is_column_header`` key).
    Fixed point with :func:`html_to_cells`: reparsing the output yields the
    same topology, header flags, and text."""
    import html as _html

    if not cells:
        return "<table></table>"
    norm = [
        {
            "row_nums": sorted(c["row_nums"]),
            "column_nums": sorted(c["column_nums"]),
            "is_column_header": bool(
                c.get("header", c.get("is_column_header", False))
            ),
            "cell_text": c.get("cell_text", "") or "",
        }
        for c in cells
    ]
    norm.sort(key=lambda c: (c["row_nums"][0], c["column_nums"][0]))
    by_row: dict[int, list[dict]] = {}
    for c in norm:
        by_row.setdefault(c["row_nums"][0], []).append(c)

    n_rows = max(c["row_nums"][-1] for c in norm) + 1
    if n_rows > MAX_GRID_DIM:
        raise ValueError(f"table rows {n_rows} exceed {MAX_GRID_DIM}")
    out = ["<table><tbody>"]
    for r in range(n_rows):
        out.append("<tr>")
        for c in sorted(by_row.get(r, []), key=lambda c: c["column_nums"][0]):
            tag = "th" if c["is_column_header"] else "td"
            attrs = ""
            if len(c["column_nums"]) > 1:
                attrs += f' colspan="{len(c["column_nums"])}"'
            if len(c["row_nums"]) > 1:
                attrs += f' rowspan="{len(c["row_nums"])}"'
            out.append(
                f"<{tag}{attrs}>{_html.escape(c['cell_text'])}</{tag}>"
            )
        out.append("</tr>")
    out.append("</tbody></table>")
    return "".join(out)
