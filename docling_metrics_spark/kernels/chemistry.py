"""Chemistry (SMILES) quality kernels — the engine's analog of the
reference's SmilesMetric (docling-metrics-chemistry
docling_metrics_chemistry.py:28-359, molecule_scores.py:85-162).

RDKit is not available in this container, so the kernel is layered:

- if ``rdkit`` imports, validity/canonicalization/Tanimoto use it exactly
  like the reference (MolFromSmiles / MolToSmiles / RDKFingerprint,
  docling_metrics_chemistry.py:206-216, molecule_scores.py:144-148);
- otherwise a documented deterministic fallback runs: a grammar-level
  validity check (balanced rings/brackets/parens, legal tokens) and a
  substring-set Tanimoto (the same containment-similarity shape as a path
  fingerprint, without the chemistry). The *pipeline semantics* — star→C
  replacement (molecule_scores.py:31-43), None-prediction handling
  (docling_metrics_chemistry.py:203-234), the aggregate's null-skipping
  means rounded to 3 (294-345) — are faithful either way.
"""

from __future__ import annotations

import re

try:  # pragma: no cover - rdkit absent in sandbox
    from rdkit import Chem
    from rdkit.Chem import DataStructs, RDKFingerprint

    _HAS_RDKIT = True
except Exception:
    _HAS_RDKIT = False

# SMILES token grammar (fallback validity): organic-subset atoms, bonds,
# branches, ring-closure digits, bracket atoms.
_SMILES_TOKEN_RE = re.compile(
    r"Cl|Br|[BCNOPSFI]|[bcnops]|\[[^\]]+\]|[=#/\\\-+]|[().%@]|\d"
)


def star_to_carbon(smiles: str) -> str:
    """Replace wildcard atoms with carbon (molecule_scores.py:31-43)."""
    return smiles.replace("[*]", "C").replace("*", "C")


def is_valid_smiles(smiles: str | None) -> bool:
    """Validity: rdkit parse when available, else grammar-level check."""
    if not smiles:
        return False
    if _HAS_RDKIT:  # pragma: no cover
        return Chem.MolFromSmiles(smiles, sanitize=False) is not None
    rest = _SMILES_TOKEN_RE.sub("", smiles)
    if rest:
        return False
    depth = 0
    for ch in smiles:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    if depth != 0:
        return False
    # ring-closure digits must pair up (bracket atoms stripped first so
    # isotope/charge digits don't count)
    from collections import Counter

    bare = re.sub(r"\[[^\]]*\]", "", smiles)
    digits = re.findall(r"\d", bare)
    return all(v % 2 == 0 for v in Counter(digits).values())


def canonicalize(smiles: str) -> str:
    """Canonical form: rdkit when available, else identity (documented)."""
    if _HAS_RDKIT:  # pragma: no cover
        mol = Chem.MolFromSmiles(smiles, sanitize=False)
        if mol is not None:
            return Chem.MolToSmiles(mol)
    return smiles


def _substr_set(s: str, max_len: int = 4) -> set[str]:
    out = set()
    for k in range(1, max_len + 1):
        for i in range(len(s) - k + 1):
            out.add(s[i : i + k])
    return out


def tanimoto(smiles_a: str, smiles_b: str) -> float:
    """Fingerprint Tanimoto (molecule_scores.py:144-148); substring-set
    Jaccard fallback without rdkit."""
    if _HAS_RDKIT:  # pragma: no cover
        ma = Chem.MolFromSmiles(smiles_a, sanitize=False)
        mb = Chem.MolFromSmiles(smiles_b, sanitize=False)
        if ma is not None and mb is not None:
            return float(
                DataStructs.TanimotoSimilarity(RDKFingerprint(ma), RDKFingerprint(mb))
            )
    a, b = _substr_set(smiles_a), _substr_set(smiles_b)
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def evaluate_smiles_pair(gt_smiles: str, pred_smiles: str | None) -> dict:
    """Per-sample scores (docling_metrics_chemistry.py:203-292 shape):
    missing/invalid predictions score None for similarity (aggregate's
    null-skipping mean then ignores them, exactly like the reference's
    conditional means over non-null values)."""
    gt = canonicalize(star_to_carbon(gt_smiles))
    if pred_smiles is None:
        return {"valid": False, "string_equality": False, "tanimoto": None}
    pred_raw = star_to_carbon(pred_smiles)
    valid = is_valid_smiles(pred_raw)
    pred = canonicalize(pred_raw)
    return {
        "valid": valid,
        "string_equality": pred == gt,
        "tanimoto": tanimoto(gt, pred) if valid else None,
    }
