"""SMILES kernel: validity grammar, Tanimoto properties, Spark parity."""

import pytest

from docling_metrics_spark.kernels.chemistry import (
    evaluate_smiles_pair,
    is_valid_smiles,
    star_to_carbon,
    tanimoto,
)
from reference_kernels import aggregate_smiles


def test_validity_grammar():
    assert is_valid_smiles("CCO")
    assert is_valid_smiles("c1ccccc1")
    assert is_valid_smiles("CC(=O)O")
    assert is_valid_smiles("[NH4+]")
    assert not is_valid_smiles("")
    assert not is_valid_smiles(None)
    assert not is_valid_smiles("CC(")  # unbalanced paren
    assert not is_valid_smiles("c1ccccc")  # unpaired ring digit
    assert not is_valid_smiles("CXQ")  # illegal tokens


def test_star_replacement():
    assert star_to_carbon("[*]CC*") == "CCCC"


def test_tanimoto_properties():
    assert tanimoto("CCO", "CCO") == 1.0
    assert 0.0 <= tanimoto("CCO", "c1ccccc1") < 1.0
    assert tanimoto("CCO", "CCN") > tanimoto("CCO", "c1ccncc1")


def test_pair_and_aggregate_semantics():
    results = [
        evaluate_smiles_pair("CCO", "CCO"),
        evaluate_smiles_pair("CCO", "CCN"),
        evaluate_smiles_pair("CCO", None),       # missing prediction
        evaluate_smiles_pair("CCO", "CC("),      # invalid prediction
    ]
    assert results[0]["string_equality"] and results[0]["tanimoto"] == 1.0
    assert results[2]["tanimoto"] is None and not results[2]["valid"]
    assert results[3]["tanimoto"] is None and not results[3]["valid"]
    agg = aggregate_smiles(results)
    assert agg["sample_count"] == 4
    assert agg["validity_rate"] == 0.5
    assert agg["equality_rate"] == 0.25
    # null-skipping mean over the two valid tanimotos only
    assert agg["tanimoto_mean"] == round(
        (results[0]["tanimoto"] + results[1]["tanimoto"]) / 2, 3
    )


def test_spark_aggregate_matches_local(spark):
    """smiles_quality (registry metric + Spark agg) == local fold."""
    from docling_metrics_spark.plans.queries import _smiles_fixture, smiles_quality

    path = _smiles_fixture(spark)
    import pandas as pd

    pdf = pd.read_parquet(path)
    local = aggregate_smiles(
        [
            evaluate_smiles_pair(
                g, p if (p is not None and p == p) else None
            )
            for g, p in zip(pdf.gt_smiles, pdf.pred_smiles)
        ]
    )
    got = smiles_quality(spark, "/root/testdata/sf0.001").collect()[0]
    assert got.sample_count == local["sample_count"]
    # rounding-mode tolerance: Python round() is banker's, Spark's is
    # HALF_UP — a rate landing exactly on .xxx5 differs by one ulp of 1e-3
    assert got.validity_rate == pytest.approx(local["validity_rate"], abs=1.1e-3)
    assert got.equality_rate == pytest.approx(local["equality_rate"], abs=1.1e-3)
    assert got.tanimoto_mean == pytest.approx(local["tanimoto_mean"], abs=1.1e-3)
