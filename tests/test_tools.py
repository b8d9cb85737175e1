"""Tooling behaviour that needs no Spark session."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench_scaling():
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(REPO, "tools", "bench_scaling.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_scaling_prunes_stale_corpora(tmp_path, monkeypatch, capsys):
    """Before generating a corpus, every other scale corpus is deleted and
    named; the one about to be used and unrelated paths stay."""
    bs = _load_bench_scaling()
    monkeypatch.setattr(bs, "CORPUS", str(tmp_path / "dms_scale_corpus"))
    for name in ("dms_scale_corpus_40000", "dms_scale_corpus_skew100x60_40000",
                 "dms_scale_corpus_20000", "other_dir"):
        (tmp_path / name).mkdir()
    keep = str(tmp_path / "dms_scale_corpus_20000")

    removed = bs.prune_stale_corpora(keep)

    assert removed == sorted([str(tmp_path / "dms_scale_corpus_40000"),
                              str(tmp_path / "dms_scale_corpus_skew100x60_40000")])
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "dms_scale_corpus_20000", "other_dir"]
    err = capsys.readouterr().err
    assert all(d in err for d in removed)
