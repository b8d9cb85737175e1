"""Tooling behaviour that needs no Spark session."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, *path):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, *path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench_scaling():
    return _load("bench_scaling", "tools", "bench_scaling.py")


def test_bench_defaults_to_the_available_cpus(monkeypatch):
    """Without $SPARK_GRAFT_CPUS, bench.py runs local[N] with N the CPUs
    this process may use (not a fixed 32) and derives the shuffle width
    from N; an explicit setting still wins."""
    bench = _load("bench", "bench.py")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    assert bench.master_and_shuffle() == ("local[4]", 8)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(12)))
    assert bench.master_and_shuffle() == ("local[12]", 12)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert bench.master_and_shuffle() == ("local[*]", 12)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert bench.master_and_shuffle() == ("local[16]", 16)


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


def test_bench_scaling_tiers_follow_the_host_cpus():
    """The N→4N pairs are measurable only when the host has 4N CPUs; the
    rest are reported as unmeasurable, never as a pass, and with nothing
    measurable the verdict is "unmeasured". No Spark, no subprocess."""
    bs = _load_bench_scaling()
    assert bs.scaling_pairs(4) == [(1, 4, True), (2, 8, False),
                                   (4, 16, False), (8, 32, False)]
    assert [ok for _, _, ok in bs.scaling_pairs(3)] == [False] * 4
    assert all(ok for _, _, ok in bs.scaling_pairs(32))
    assert bs.scaling_verdict(["unmeasurable"] * 4) == "unmeasured"
    assert bs.scaling_verdict([0.85, "unmeasurable"]) == "pass"
    assert bs.scaling_verdict([0.6, "unmeasurable", "unmeasurable"]) == "fail"
