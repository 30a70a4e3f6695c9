"""tools/ab.py: the verdict rule (no Spark), the equality gate that
refuses to time arms whose rows differ, and the exit code for a query
or arm that cannot be resolved."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import ab  # noqa: E402

# median 10.9, quartiles 10.45 / 11.35: IQR(A) = 0.9
A = [10.0, 10.2, 10.4, 10.6, 10.8, 11.0, 11.2, 11.4, 11.6, 11.8]


def shifted(delta: float, losses: int = 0, ties: int = 0) -> list[float]:
    """B = A + delta in every pair, except the first ``losses`` pairs
    (B off by -delta instead) and the next ``ties`` pairs (B == A)."""
    b = [a + delta for a in A]
    for i in range(losses):
        b[i] = A[i] - delta
    for i in range(losses, losses + ties):
        b[i] = A[i]
    return b


@pytest.mark.parametrize(
    "b, expected",
    [
        (shifted(-2.0), "faster"),  # 10/10, gap 2.0 > IQR 0.9
        (shifted(-2.0, losses=1), "faster"),  # 9/10
        (shifted(-2.0, losses=2), "no difference"),  # 8/10
        (shifted(-0.5), "no difference"),  # 10/10, gap 0.5 <= IQR
        (shifted(-2.0, ties=1), "faster"),  # 9 wins + 1 tie
        (shifted(-2.0, ties=2), "no difference"),  # 8 wins + 2 ties
        (shifted(2.0), "slower"),
        (shifted(2.0, losses=1), "slower"),
        (shifted(2.0, losses=2), "no difference"),
        (shifted(0.5), "no difference"),
        (shifted(2.0, ties=2), "no difference"),
    ],
)
def test_verdict(b, expected):
    assert ab.verdict(A, b) == expected


def test_ties_count_for_neither_arm():
    assert ab.wins(A, shifted(-2.0, losses=1, ties=2)) == (1, 7)


def _no_spark(**_):
    raise AssertionError("Spark started for an unresolvable argument")


@pytest.mark.parametrize(
    "argv",
    [["no_such_query", "os:getcwd"], ["word_count", "no_such_module_x:arm"],
     ["word_count", "os:no_such_function"], ["word_count", "os"]],
    ids=["unknown_query", "missing_module", "missing_function", "no_colon"],
)
def test_unresolvable_argument_exits_2(argv, monkeypatch):
    monkeypatch.setattr(ab, "get_spark", _no_spark)
    assert ab.main(argv) == 2


def test_rows_mismatch_exits_1_before_timing(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    (tmp_path / "ab_arm_limit1.py").write_text(
        "import __spark_entry__\n\n\n"
        "def arm(spark, sf_dir):\n"
        "    fn = __spark_entry__.queries()['word_count']\n"
        "    return fn(spark, sf_dir).limit(1)\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(ab, "get_spark", lambda **_: spark)
    monkeypatch.setattr(ab.bench, "warm_up", lambda spark: None)

    def no_timing(*_):
        raise AssertionError("timed a pair of arms whose rows differ")

    monkeypatch.setattr(ab.bench, "run_one", no_timing)
    monkeypatch.setattr(ab.bench, "calib", no_timing)
    assert ab.main(["word_count", "ab_arm_limit1:arm"]) == 1
    assert "results differ" in capsys.readouterr().out
