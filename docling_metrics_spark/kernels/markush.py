"""Markush (CXSMILES) structure-quality kernel — pure Python, Arrow-UDF safe.

Re-expresses the reference's Markush evaluation surface from scratch:

- CXSMILES extension parsing (atom labels, m-sections, Sg-sections) —
  reference cxsmiles_parser.py:9-85;
- fragment split + greedy largest-common-content fragment matching, core =
  largest GT fragment, per-fragment and size-weighted overall similarity —
  reference molecule_scores.py:236-470;
- GT→pred atom mapping and r/m/sg section accuracies + cxsmi_equality —
  reference molecule_scores.py:473-666;
- the dataset aggregate's conditional (null-skipping) means — reference
  docling_metrics_chemistry.py:294-345.

RDKit is not available in this container, so the chemistry layer is the
same documented deterministic fallback as :mod:`.chemistry`:

- fragment matching uses atom-symbol multiset overlap where the reference
  uses rdFMCS maximum-common-substructure size;
- GT→pred atom mapping uses an LCS alignment over the writing-order atom
  symbol sequences where the reference uses MCS substructure matches;
- ``inchi_equality`` falls back to equality of an isomorphism-insensitive
  canonical form (sorted atom multiset + sorted bond multiset after
  wildcard→carbon) where the reference compares InChIKeys;
- ``tanimoto`` uses the substring-set Jaccard of :func:`.chemistry.tanimoto`.

The *pipeline semantics* — score keys, greedy consume rules, the exact
conditional reductions and the cxsmi_equality condition — are faithful.
"""

from __future__ import annotations

import re
from collections import Counter

from docling_metrics_spark.kernels.chemistry import (
    star_to_carbon,
    tanimoto,
)


def _wildcards_to_carbon(text: str) -> str:
    """Wildcard atoms → carbon including isotope-tagged bracket wildcards
    (``[1*]`` → ``C``): the reference clears the isotope when rewriting the
    atom (molecule_scores.py:31-43 SetAtomicNum(6) + SetIsotope(0))."""
    return star_to_carbon(re.sub(r"\[\d*\*\]", "C", text))

# ---------------------------------------------------------------------------
# SMILES fragment graph parsing (no rdkit): atoms + bonds per fragment
# ---------------------------------------------------------------------------

_TWO_LETTER = ("Cl", "Br")
_ORGANIC = set("BCNOPSFI")
_AROMATIC = set("bcnops")
_BOND_CHARS = set("-=#:/\\~$")
_BRACKET_RE = re.compile(r"\[(\d+)?([A-Za-z][a-z]?|\*)([^\]]*)\]")


class _Atom:
    __slots__ = ("idx", "symbol", "wildcard", "label")

    def __init__(self, idx: int, symbol: str, wildcard: bool):
        self.idx = idx
        self.symbol = symbol
        self.wildcard = wildcard
        self.label: str | None = None


def split_top_level_dots(body: str) -> list[str]:
    """Split a SMILES body into fragment substrings on dots outside
    brackets/parentheses (dot = component separator)."""
    out, cur, depth, in_bracket = [], [], 0, False
    for ch in body:
        if ch == "[":
            in_bracket = True
        elif ch == "]":
            in_bracket = False
        elif not in_bracket:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "." and depth == 0:
                out.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    out.append("".join(cur))
    return out


def parse_fragment(text: str, idx_offset: int = 0):
    """Parse one dot-free SMILES fragment → (atoms, bonds).

    atoms: list[_Atom] with global indices starting at ``idx_offset``;
    bonds: list[(i, j, order_str)]. Raises ValueError on an illegal token.
    """
    atoms: list[_Atom] = []
    bonds: list[tuple[int, int, str]] = []
    stack: list[int] = []
    rings: dict[str, tuple[int, str]] = {}
    prev = -1
    pending_bond = ""
    i, n = 0, len(text)

    def add_atom(symbol: str, wildcard: bool) -> None:
        nonlocal prev, pending_bond
        a = _Atom(idx_offset + len(atoms), symbol, wildcard)
        atoms.append(a)
        if prev >= 0:
            bonds.append((prev, a.idx, pending_bond or "-"))
        prev = a.idx
        pending_bond = ""

    while i < n:
        ch = text[i]
        if ch == "[":
            m = _BRACKET_RE.match(text, i)
            if not m:
                raise ValueError(f"bad bracket atom at {i}")
            sym = m.group(2)
            add_atom(sym.capitalize() if sym != "*" else "*", sym == "*")
            i = m.end()
        elif text[i : i + 2] in _TWO_LETTER:
            add_atom(text[i : i + 2], False)
            i += 2
        elif ch in _ORGANIC:
            add_atom(ch, False)
            i += 1
        elif ch in _AROMATIC:
            add_atom(ch.upper(), False)
            i += 1
        elif ch == "*":
            add_atom("*", True)
            i += 1
        elif ch in _BOND_CHARS:
            pending_bond = ch
            i += 1
        elif ch == "(":
            if prev < 0:
                raise ValueError("branch before any atom")
            stack.append(prev)
            i += 1
        elif ch == ")":
            if not stack:
                raise ValueError("unbalanced )")
            prev = stack.pop()
            i += 1
        elif ch.isdigit() or ch == "%":
            if ch == "%":
                key = text[i + 1 : i + 3]
                if len(key) != 2 or not key.isdigit():
                    raise ValueError("bad %ring token")
                i += 3
            else:
                key = ch
                i += 1
            if prev < 0:
                raise ValueError("ring digit before any atom")
            if key in rings:
                j, order = rings.pop(key)
                bonds.append((j, prev, pending_bond or order or "-"))
                pending_bond = ""
            else:
                rings[key] = (prev, pending_bond)
                pending_bond = ""
        else:
            raise ValueError(f"illegal SMILES character {ch!r}")
    if stack:
        raise ValueError("unbalanced (")
    if rings:
        raise ValueError("unclosed ring bond")
    return atoms, bonds


class Molecule:
    """Parsed CXSMILES: fragments of atoms/bonds + extension sections."""

    def __init__(self, atoms, bonds, frag_atom_indices, frag_texts,
                 m_sections, sg_sections):
        self.atoms = atoms                        # list[_Atom], global order
        self.bonds = bonds                        # list[(i, j, order)]
        self.frag_atom_indices = frag_atom_indices  # list[list[int]]
        self.frag_texts = frag_texts              # list[str]
        self.m_sections = m_sections              # [{connector, ring_atoms}]
        self.sg_sections = sg_sections            # [{type, atoms, label}]

    @property
    def rgroups(self) -> dict[int, str]:
        return {a.idx: a.label for a in self.atoms if a.label}


def parse_extension(ext: str):
    """Parse the CXSMILES ``|...|`` extension → (labels, m_sections,
    sg_sections). Section grammar per reference cxsmiles_parser.py:9-85:
    ``$a;b;...$`` positional atom labels; ``m:CONN:A.B.C`` multicenter
    sections; ``Sg:TYPE:I,J,...:LABEL:...`` substance groups (an Sg section
    swallows following comma-parts until the next m:/Sg:)."""
    labels: dict[int, str] = {}
    rest = ext
    if rest.startswith("$"):
        end = rest.index("$", 1)
        for pos, lab in enumerate(rest[1:end].split(";")):
            if lab:
                labels[pos] = lab
        rest = rest[end + 1 :].lstrip(",")

    parts = rest.split(",") if rest else []
    m_sections, sg_sections = [], []
    i = 0
    while i < len(parts):
        p = parts[i]
        if p.startswith("m:"):
            pieces = p.split(":")
            m_sections.append(
                {
                    "connector": int(pieces[1]),
                    "ring_atoms": [int(x) for x in pieces[2].split(".") if x],
                }
            )
            i += 1
        elif p.startswith("Sg:"):
            merged = [p]
            j = i + 1
            while j < len(parts) and not parts[j].startswith(("m:", "Sg:")):
                merged.append(parts[j])
                j += 1
            whole = ",".join(merged)
            pieces = whole.split(":")
            sg_sections.append(
                {
                    "type": pieces[1] if len(pieces) > 1 else "",
                    "atoms": [
                        int(x) for x in pieces[2].split(",") if x
                    ]
                    if len(pieces) > 2
                    else [],
                    "label": pieces[3] if len(pieces) > 3 else None,
                }
            )
            i = j
        else:
            i += 1
    return labels, m_sections, sg_sections


# Largest molecule accepted: the fragment-matching and LCS atom-mapping
# steps are O(n·m) in atom counts, so an adversarial multi-megabyte SMILES
# would otherwise OOM the Arrow worker. Far beyond any real Markush input.
MAX_ATOMS = 10_000


def parse_cxsmiles(cxsmiles: str) -> Molecule | None:
    """Parse a CXSMILES string → :class:`Molecule`, or None if malformed
    or larger than :data:`MAX_ATOMS`."""
    m = re.match(r"^(.*?)\s*\|(.*)\|\s*$", cxsmiles, re.S)
    body, ext = (m.group(1), m.group(2)) if m else (cxsmiles.strip(), "")
    if len(body) > 4 * MAX_ATOMS:  # cheap pre-screen before parsing
        return None
    try:
        labels, m_sections, sg_sections = parse_extension(ext)
        frag_texts = split_top_level_dots(body)
        atoms, bonds, frag_atom_indices = [], [], []
        for text in frag_texts:
            f_atoms, f_bonds = parse_fragment(text, idx_offset=len(atoms))
            frag_atom_indices.append([a.idx for a in f_atoms])
            atoms.extend(f_atoms)
            bonds.extend(f_bonds)
        if len(atoms) > MAX_ATOMS:
            return None
        for pos, lab in labels.items():
            if pos < len(atoms):
                atoms[pos].label = lab
    except (ValueError, IndexError):
        return None
    return Molecule(atoms, bonds, frag_atom_indices, frag_texts,
                    m_sections, sg_sections)


# ---------------------------------------------------------------------------
# Fallback chemistry comparisons (isomorphism-insensitive canonical forms)
# ---------------------------------------------------------------------------


def _frag_canonical(mol: Molecule, frag_idx: int) -> str:
    """Canonical form of a fragment: sorted atom-symbol multiset + sorted
    bond multiset, wildcards mapped to carbon — the fallback stand-in for an
    InChIKey (star→C mirrors molecule_scores.py:31-43)."""
    idxs = set(mol.frag_atom_indices[frag_idx])
    syms = {
        a.idx: ("C" if a.wildcard else a.symbol) for a in mol.atoms
        if a.idx in idxs
    }
    atom_part = ".".join(sorted(syms.values()))
    bond_part = ".".join(
        sorted(
            "".join(sorted((syms[i], syms[j]))) + o
            for (i, j, o) in mol.bonds
            if i in idxs and j in idxs
        )
    )
    return atom_part + "|" + bond_part


def _mol_canonical(mol: Molecule) -> str:
    return "&".join(
        sorted(_frag_canonical(mol, k) for k in range(len(mol.frag_atom_indices)))
    )


def _common_atom_count(mol_a: Molecule, fa: int, mol_b: Molecule, fb: int) -> int:
    """MCS-size stand-in: atom-symbol multiset intersection of two fragments
    (reference uses rdFMCS.FindMCS().numAtoms, molecule_scores.py:315-316)."""
    ca = Counter(
        "C" if mol_a.atoms[i].wildcard else mol_a.atoms[i].symbol
        for i in mol_a.frag_atom_indices[fa]
    )
    cb = Counter(
        "C" if mol_b.atoms[i].wildcard else mol_b.atoms[i].symbol
        for i in mol_b.frag_atom_indices[fb]
    )
    return sum((ca & cb).values())


def _lcs_atom_mapping(mol_gt: Molecule, fg: int, mol_pred: Molecule, fp: int):
    """GT→pred atom index map via LCS over writing-order symbol sequences
    (the MCS substructure-match stand-in, molecule_scores.py:473-505)."""
    gi = mol_gt.frag_atom_indices[fg]
    pi = mol_pred.frag_atom_indices[fp]
    gs = ["C" if mol_gt.atoms[i].wildcard else mol_gt.atoms[i].symbol for i in gi]
    ps = ["C" if mol_pred.atoms[i].wildcard else mol_pred.atoms[i].symbol for i in pi]
    n, m = len(gs), len(ps)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    for a in range(n - 1, -1, -1):
        for b in range(m - 1, -1, -1):
            dp[a][b] = (
                dp[a + 1][b + 1] + 1
                if gs[a] == ps[b]
                else max(dp[a + 1][b], dp[a][b + 1])
            )
    mapping: dict[int, list[int]] = {}
    a = b = 0
    while a < n and b < m:
        if gs[a] == ps[b]:
            mapping[gi[a]] = [pi[b]]
            a += 1
            b += 1
        elif dp[a + 1][b] >= dp[a][b + 1]:
            a += 1
        else:
            b += 1
    return mapping


# ---------------------------------------------------------------------------
# The Markush score surface (reference molecule_scores.py:176-666)
# ---------------------------------------------------------------------------

_DEFAULT_SCORES = {
    "backbone_core_tanimoto": 0.0,
    "backbone_core_tanimoto1": False,
    "backbone_core_inchi_equality": False,
    "backbone_fragments_tanimoto_reduced": 0.0,
    "backbone_fragments_tanimoto1_reduced": False,
    "backbone_fragments_inchi_equality_reduced": False,
    "tanimoto": 0.0,
    "tanimoto1": False,
    "inchi_equality": False,
    "string_equality": False,
    "valid": False,
    "r": None,
    "m": None,
    "sg": None,
    "num_fragments_gt": 0,
    "num_fragments_pred": 0,
    "num_fragments_equal": False,
    "cxsmi_equality": False,
}


def evaluate_markush_pair(gt_cxsmiles: str, pred_cxsmiles: str | None) -> dict:
    """Full Markush prediction quality for one GT/pred CXSMILES pair —
    the reference's compute_markush_prediction_quality score surface
    (molecule_scores.py:176-666) on the fallback chemistry layer."""
    scores = dict(_DEFAULT_SCORES)
    if pred_cxsmiles is None:
        # missing prediction: r/m/sg stay None — excluded from the
        # conditional means (reference _default_result,
        # docling_metrics_chemistry.py:163-213)
        return scores
    scores["string_equality"] = pred_cxsmiles == gt_cxsmiles

    gt = parse_cxsmiles(gt_cxsmiles)
    pred = parse_cxsmiles(pred_cxsmiles)
    if gt is None or pred is None:
        # UNPARSEABLE prediction: features the GT actually has score 0.0
        # (dragging the conditional means down), absent features stay None
        # (reference docling_metrics_chemistry.py:217-235)
        if gt is not None:
            scores["r"] = 0.0 if gt.rgroups else None
            scores["m"] = 0.0 if gt.m_sections else None
            scores["sg"] = 0.0 if gt.sg_sections else None
        return scores

    n_gt_frags = len(gt.frag_atom_indices)
    n_pred_frags = len(pred.frag_atom_indices)
    scores["num_fragments_gt"] = n_gt_frags
    scores["num_fragments_pred"] = n_pred_frags
    scores["num_fragments_equal"] = n_gt_frags == n_pred_frags

    gt_rgroups = gt.rgroups

    # --- greedy fragment matching (molecule_scores.py:291-419) ------------
    frag_sizes = [len(ix) for ix in gt.frag_atom_indices]
    core_size = max(frag_sizes)
    side_total_size = sum(s for s in frag_sizes if s != core_size)

    remaining = list(range(n_pred_frags))
    frag_match: dict[int, list[int]] = {}  # gt frag -> matched pred frags
    side_tan, side_tan1, side_inchi = [], [], []

    for i_gt in range(n_gt_frags):
        selected: list[int] = []
        if remaining:
            common = [
                _common_atom_count(pred, fp, gt, i_gt) for fp in remaining
            ]
            best = max(common)
            selected = [remaining[k] for k, c in enumerate(common) if c == best]
            # tie-break on matching R-labels inside the gt fragment
            if len(selected) > 1:
                keep = []
                gt_frag_set = set(gt.frag_atom_indices[i_gt])
                frag_labels = {
                    lab.lower()
                    for idx, lab in gt_rgroups.items()
                    if idx in gt_frag_set
                }
                if frag_labels:
                    for fp in selected:
                        pred_labels = {
                            pred.atoms[i].label.lower()
                            for i in pred.frag_atom_indices[fp]
                            if pred.atoms[i].label
                        }
                        if frag_labels <= pred_labels:
                            keep.append(fp)
                    if not keep:  # fallback: smallest candidate
                        keep = [
                            min(selected,
                                key=lambda fp: len(pred.frag_atom_indices[fp]))
                        ]
                    selected = keep

        if selected:
            chosen = selected[0]
            pred_frag_text = _wildcards_to_carbon(pred.frag_texts[chosen])
            pred_frag_canon = _frag_canonical(pred, chosen)
        else:
            chosen = None
            pred_frag_text = ""
            pred_frag_canon = ""
        gt_frag_text = _wildcards_to_carbon(gt.frag_texts[i_gt])
        gt_frag_canon = _frag_canonical(gt, i_gt)

        tan = tanimoto(gt_frag_text, pred_frag_text) if pred_frag_text else 0.0
        inchi_eq = bool(pred_frag_canon) and pred_frag_canon == gt_frag_canon
        if frag_sizes[i_gt] == core_size:
            scores["backbone_core_tanimoto"] = round(tan, 3)
            scores["backbone_core_tanimoto1"] = tan == 1.0
            scores["backbone_core_inchi_equality"] = inchi_eq
        else:
            side_tan.append(round(tan, 3))
            side_tan1.append(tan == 1.0)
            side_inchi.append(inchi_eq)

        frag_match[i_gt] = list(selected)
        if len(selected) == 1:
            remaining.remove(selected[0])

    scores["backbone_fragments_tanimoto_reduced"] = (
        round(float(sum(side_tan) / len(side_tan)), 3) if side_tan else 0.0
    )
    scores["backbone_fragments_tanimoto1_reduced"] = all(side_tan1)
    scores["backbone_fragments_inchi_equality_reduced"] = all(side_inchi)

    total_size = side_total_size + core_size
    scores["tanimoto"] = round(
        (
            scores["backbone_fragments_tanimoto_reduced"] * side_total_size
            + scores["backbone_core_tanimoto"] * core_size
        )
        / total_size
        if total_size > 0
        else 0.0,
        3,
    )
    scores["tanimoto1"] = (
        scores["backbone_fragments_tanimoto1_reduced"]
        and scores["backbone_core_tanimoto1"]
    )
    # overall inchi equality: whole-molecule comparison overrides the
    # fragment-level AND (molecule_scores.py:453-470)
    scores["inchi_equality"] = _mol_canonical(gt) == _mol_canonical(pred)

    # --- global gt→pred atom mapping (molecule_scores.py:473-505) ---------
    gt_to_pred: dict[int, list[int]] = {}
    for i_gt, preds in frag_match.items():
        for fp in preds:
            for g_idx, p_idxs in _lcs_atom_mapping(gt, i_gt, pred, fp).items():
                gt_to_pred.setdefault(g_idx, [])
                for p in p_idxs:
                    if p not in gt_to_pred[g_idx]:
                        gt_to_pred[g_idx].append(p)

    # --- R-group labels (molecule_scores.py:507-525) ----------------------
    if not gt_rgroups:
        r_labels = None
    else:
        r_labels = []
        mapping_r = {k: list(v) for k, v in gt_to_pred.items()}
        for idx, label in gt_rgroups.items():
            correct = False
            for j in mapping_r.get(idx, []):
                p_label = pred.atoms[j].label
                if p_label and p_label.lower() == label.lower():
                    correct = True
                    mapping_r = {
                        k: [x for x in v if x != j] for k, v in mapping_r.items()
                    }
                    break
            r_labels.append(correct)

    # --- M-sections (molecule_scores.py:527-584) --------------------------
    if not gt.m_sections:
        m_results = None
    else:
        m_results = []
        mapping_m = {k: list(v) for k, v in gt_to_pred.items()}
        for sec_gt in gt.m_sections:
            correct = False
            for sec_pred in pred.m_sections:
                conn_ok = sec_gt["connector"] in mapping_m and (
                    sec_pred["connector"] in mapping_m[sec_gt["connector"]]
                )
                ring_found = []
                for ring_atom in sec_gt["ring_atoms"]:
                    if ring_atom not in mapping_m:
                        continue
                    ring_found.append(
                        any(
                            i in sec_pred["ring_atoms"]
                            for i in mapping_m[ring_atom]
                        )
                    )
                if conn_ok and all(ring_found):
                    correct = True
                    mapping_m = {
                        k: [x for x in v if x != sec_pred["connector"]]
                        for k, v in mapping_m.items()
                    }
                    break
            m_results.append(correct)

    # --- Sg-sections (molecule_scores.py:586-631) -------------------------
    if not gt.sg_sections:
        sg_results = None
    else:
        sg_results = []
        for sec_gt in gt.sg_sections:
            gt_atoms = sec_gt["atoms"]
            if any(a not in gt_to_pred for a in gt_atoms):
                sg_results.append(False)
                continue
            correct = False
            for sec_pred in pred.sg_sections:
                pred_atoms = set(sec_pred["atoms"])
                if (
                    len(pred_atoms) == len(gt_atoms)
                    and all(
                        any(p in gt_to_pred[g] for p in pred_atoms)
                        for g in gt_atoms
                    )
                    # reverse direction too: every pred sgroup atom must be
                    # mapped from some gt atom (molecule_scores.py:611-620)
                    and all(
                        any(p in gt_to_pred[g] for g in gt_atoms)
                        for p in pred_atoms
                    )
                    and sec_pred["label"] == sec_gt["label"]
                ):
                    correct = True
                    break
            sg_results.append(correct)

    # --- conditional reductions (molecule_scores.py:633-653) --------------
    def reduce(vals):
        if vals is None:
            return None
        if vals == []:
            return 0.0
        return round(float(sum(vals) / len(vals)), 3)

    scores["r"] = reduce(r_labels)
    scores["m"] = reduce(m_results)
    scores["sg"] = reduce(sg_results)

    # --- overall CXSMILES equality (molecule_scores.py:655-663) -----------
    scores["cxsmi_equality"] = (
        (scores["r"] == 1.0 or scores["r"] is None)
        and (scores["m"] == 1.0 or scores["m"] is None)
        and (scores["sg"] == 1.0 or scores["sg"] is None)
        and scores["inchi_equality"] is True
        and scores["num_fragments_equal"] is True
    )
    scores["valid"] = True
    return scores
