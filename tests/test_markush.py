"""Markush (CXSMILES) kernel tests — mirroring the reference's test surface
(test_smiles_metric.py:130-144 and the section-accuracy semantics of
molecule_scores.py:176-666) on the rdkit-free fallback layer."""

import pytest

from docling_metrics_spark.kernels.markush import (
    evaluate_markush_pair,
    parse_cxsmiles,
    parse_extension,
    split_top_level_dots,
)
from reference_kernels import aggregate_markush


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def test_split_top_level_dots():
    assert split_top_level_dots("CC.CO") == ["CC", "CO"]
    # dots inside brackets don't split
    assert split_top_level_dots("C[2H].[Na]") == ["C[2H]", "[Na]"]
    assert split_top_level_dots("CCO") == ["CCO"]


def test_parse_extension_sections():
    labels, m_secs, sg_secs = parse_extension(
        "$R1;;R2;$,m:0:15.16.17,Sg:n:11,12:F:ht"
    )
    assert labels == {0: "R1", 2: "R2"}
    assert m_secs == [{"connector": 0, "ring_atoms": [15, 16, 17]}]
    assert sg_secs == [{"type": "n", "atoms": [11, 12], "label": "F"}]


def test_parse_cxsmiles_atoms_and_labels():
    mol = parse_cxsmiles("*C.*N |$R1;;R2;$|")
    assert mol is not None
    assert [a.symbol for a in mol.atoms] == ["*", "C", "*", "N"]
    assert mol.rgroups == {0: "R1", 2: "R2"}
    assert len(mol.frag_atom_indices) == 2


def test_parse_cxsmiles_rings_and_branches():
    mol = parse_cxsmiles("CC(C)c1ccccc1")
    assert mol is not None
    assert len(mol.atoms) == 9
    # ring closure adds a bond: 9 atoms, 9 bonds (8 chain + 1 ring)
    assert len(mol.bonds) == 9


def test_parse_invalid_returns_none():
    assert parse_cxsmiles("C(((") is None
    assert parse_cxsmiles("C1CC") is None  # unclosed ring
    assert parse_cxsmiles("Cq") is None  # illegal token


# ---------------------------------------------------------------------------
# score surface
# ---------------------------------------------------------------------------


def test_markush_identical():
    # reference test_smiles_metric.py:130-144
    cx = "[1*]C.[2*]C"
    s = evaluate_markush_pair(cx, cx)
    assert s["valid"] is True
    assert s["string_equality"] is True
    assert s["tanimoto"] == 1.0
    assert s["tanimoto1"] is True
    assert s["inchi_equality"] is True
    assert s["num_fragments_equal"] is True
    assert s["r"] is None and s["m"] is None and s["sg"] is None
    assert s["cxsmi_equality"] is True


def test_markush_missing_and_invalid_pred():
    gt = "CCO"
    assert evaluate_markush_pair(gt, None)["valid"] is False
    bad = evaluate_markush_pair(gt, "C((")
    assert bad["valid"] is False and bad["tanimoto"] == 0.0


def test_markush_r_labels():
    gt = "*C(C)C.*N |$R1;;;;R2;$|"
    # identical → every R label matched
    assert evaluate_markush_pair(gt, gt)["r"] == 1.0
    # wrong second label → half the labels correct, cxsmi_equality broken
    pred = "*C(C)C.*N |$R1;;;;R9;$|"
    s = evaluate_markush_pair(gt, pred)
    assert s["r"] == 0.5
    assert s["cxsmi_equality"] is False


def test_markush_m_sections():
    gt = "*C1CCCC1 |$R;;;;;$,m:0:1.2.3|"
    assert evaluate_markush_pair(gt, gt)["m"] == 1.0
    # different ring atoms → section not matched
    pred = "*C1CCCC1 |$R;;;;;$,m:0:1.2.4|"
    s = evaluate_markush_pair(gt, pred)
    assert s["m"] == 0.0
    assert s["cxsmi_equality"] is False


def test_markush_sg_sections():
    gt = "CCOC |Sg:n:1,2:F:ht|"
    assert evaluate_markush_pair(gt, gt)["sg"] == 1.0
    # wrong label → no match
    s = evaluate_markush_pair(gt, "CCOC |Sg:n:1,2:G:ht|")
    assert s["sg"] == 0.0
    # wrong atom set → no match
    s2 = evaluate_markush_pair(gt, "CCOC |Sg:n:1,3:F:ht|")
    assert s2["sg"] == 0.0


def test_markush_fragment_counts_and_core_weighting():
    gt = "CCCCCC.CO"  # core = 6 atoms, side = 2 atoms
    s = evaluate_markush_pair(gt, "CCCCCC.CO")
    assert s["num_fragments_gt"] == 2 and s["num_fragments_equal"]
    assert s["backbone_core_tanimoto"] == 1.0
    assert s["tanimoto"] == 1.0
    # drop the side fragment: core still perfect, overall weighted down
    s2 = evaluate_markush_pair(gt, "CCCCCC")
    assert s2["num_fragments_equal"] is False
    assert s2["backbone_core_tanimoto"] == 1.0
    assert s2["tanimoto"] < 1.0
    assert s2["cxsmi_equality"] is False


def test_markush_equivalent_writing_orders_inchi_equal():
    # OCC vs CCO — same multiset canonical form (fallback InChI stand-in)
    s = evaluate_markush_pair("CCO", "OCC")
    assert s["inchi_equality"] is True
    assert s["string_equality"] is False


def test_aggregate_markush_conditional_means():
    results = [
        evaluate_markush_pair("*C.N |$R1;;$|", "*C.N |$R1;;$|"),
        evaluate_markush_pair("CCO", "CCO"),
        evaluate_markush_pair("CCO", None),
    ]
    agg = aggregate_markush(results)
    assert agg["sample_count"] == 3
    # only the first sample has R groups → mean_r over that one alone
    assert agg["mean_r"] == 1.0
    assert agg["mean_m"] is None and agg["mean_sg"] is None
    assert agg["validity_rate"] == pytest.approx(round(2 / 3, 3))
    # markush rows = the two parsed ones (num_fragments_gt > 0)
    assert agg["cxsmi_equality_rate"] == 1.0
    assert aggregate_markush([])["sample_count"] == 0


def test_markush_spark_aggregate_matches_local(spark):
    """Distributed markush_quality == single-process aggregate_markush on
    the same fixture (the reference's evaluate_dataset parity check)."""
    import pandas as pd

    from docling_metrics_spark.plans.queries import (
        _markush_fixture,
        all_queries,
    )

    path = _markush_fixture(spark)
    row = all_queries()["markush_quality"](spark, "unused").collect()[0]

    pdf = pd.read_parquet(path)
    local = aggregate_markush(
        [
            evaluate_markush_pair(g, None if p is None else p)
            for g, p in zip(pdf["gt_cx"], pdf["pred_cx"])
        ]
    )
    assert row["sample_count"] == local["sample_count"]
    assert row["mean_tanimoto"] == pytest.approx(local["mean_tanimoto"], abs=2e-3)
    assert row["validity_rate"] == pytest.approx(local["validity_rate"], abs=1e-9)
    assert row["string_equality_rate"] == pytest.approx(
        local["string_equality_rate"], abs=1e-9
    )
    assert row["mean_r"] == pytest.approx(local["mean_r"], abs=2e-3)
    assert row["cxsmi_equality_rate"] == pytest.approx(
        local["cxsmi_equality_rate"], abs=2e-3
    )


def test_parse_cxsmiles_never_crashes_on_fuzz():
    """Arbitrary garbage must yield None or a Molecule — never raise
    (the kernel runs inside Arrow batches; one bad row must not kill a
    task)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from docling_metrics_spark.kernels.markush import (
        Molecule,
        parse_cxsmiles,
    )

    @given(st.text(alphabet="CNOclBr()[]|$;:,.*123%=#~ ", max_size=60))
    @settings(max_examples=300, deadline=None)
    def run(s):
        out = parse_cxsmiles(s)
        assert out is None or isinstance(out, Molecule)

    run()


def test_evaluate_markush_pair_never_crashes_on_fuzz():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from docling_metrics_spark.kernels.markush import evaluate_markush_pair

    @given(
        st.text(alphabet="CNO()[]|$;:,.*12", max_size=30),
        st.text(alphabet="CNO()[]|$;:,.*12", max_size=30),
    )
    @settings(max_examples=200, deadline=None)
    def run(a, b):
        s = evaluate_markush_pair(a, b)
        assert isinstance(s["valid"], bool)

    run()


def test_markush_unparseable_pred_zeroes_present_features():
    """Reference docling_metrics_chemistry.py:217-235: an UNPARSEABLE
    prediction scores 0.0 for the features the GT has (dragging the
    conditional means down) and None for absent features; a MISSING
    prediction stays None everywhere."""
    gt = "*C1CCCC1 |$R;;;;;$,m:0:1.2.3|"
    bad = evaluate_markush_pair(gt, "C((")
    assert bad["r"] == 0.0 and bad["m"] == 0.0 and bad["sg"] is None
    missing = evaluate_markush_pair(gt, None)
    assert missing["r"] is None and missing["m"] is None
    # GT without any Markush features: unparseable pred keeps None
    plain = evaluate_markush_pair("CCO", "C((")
    assert plain["r"] is None and plain["m"] is None and plain["sg"] is None


def test_markush_sg_atom_set_mismatch_rejected():
    """Sg matching enforces the reference's full condition set
    (molecule_scores.py:611-620): equal atom-set size plus BOTH mapping
    directions — a pred sgroup over a different atom set must not match."""
    gt = "CCOC |Sg:n:1,2:F:ht|"
    s = evaluate_markush_pair(gt, "CCOC |Sg:n:1,2,3:F:ht|")
    assert s["sg"] == 0.0
