"""The generator-only expectations and the output comparator."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from jio_spark.audio.synth import make_row  # noqa: E402
from perfbench import oracle  # noqa: E402


@pytest.mark.parametrize("start,n", [(0, 3000), (7_000_000, 2000)])
def test_meta_row_matches_generator(start, n):
    for i in range(start, start + n):
        full = make_row(i)
        assert oracle.meta_row(i) == (full[0],) + tuple(full[2:]), i


def test_expectations_reproduce_pinned_figures():
    """4,970 job violations and 95 uniqueness violations at 100k clips,
    seed 0 (the figures the repository pins for its headline corpus)."""
    rows = [oracle.meta_row(i) for i in range(100_000)]
    exp = oracle.expectations(ROOT, rows, 0, audio=True)
    assert exp["violations_total"] == 4970
    assert exp["uniqueness"] == 95


def test_prediction_agrees_with_independent_decoder():
    tools = oracle.load_tools_oracle(ROOT)
    sample = oracle.decode_sample(2_000_000, 1500, per_kind=2)
    assert len(sample) >= 8
    for i in sample:
        pred = oracle.predict_decode(i, oracle.meta_row(i))
        assert oracle.independent_verdicts(tools, make_row(i)) == pred, i


def test_compare_counts():
    assert oracle.compare_counts({"a/b": 2}, {"a/b": 2}) is None
    d = oracle.compare_counts({"a/b": 2, "c/d": 1}, {"a/b": 3, "e/f": 1})
    assert "a/b: expected 2 got 3" in d
    assert "c/d: expected 1 got 0" in d and "e/f: expected 0 got 1" in d


def test_comparator_on_a_tiny_seed(tmp_path):
    """The engine's outputs on a tiny corpus equal the expectation, and a
    wrong expectation is reported as a failed operation."""
    from perfbench import driver
    from perfbench.workloads import Workload, ensure_corpus
    wl = Workload("tiny", 300, "headline", "test")
    desc = ensure_corpus(ROOT, str(tmp_path), wl, seed=11, procs=2)
    assert desc["expected"]["violations_total"] > 0
    spark = driver.build_session(2, str(tmp_path), trace=False)
    try:
        driver.ship_package(spark, str(tmp_path))
        runner = driver.Runner(spark, "headline", desc, 2, str(tmp_path))
        r = runner.op()
        assert r["errors"] == [] and r["rows"] == 300
        assert driver.sample_check(spark, runner) == []
        key = next(iter(desc["expected"]["violations"]))
        runner.expected = dict(
            desc["expected"],
            violations={**desc["expected"]["violations"], key: 10 ** 6})
        assert any(key in e for e in runner.op()["errors"])
    finally:
        spark.stop()
