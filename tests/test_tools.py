"""Unit tests for the Spark-free tool helpers (tools/driver_util.py, tools/abab.py).

VERDICT r11 #5: ``drive_driver.py --only`` is a regex but reads like a comma
list; a comma-joined pattern used to silently match 0 queries and exit green.
These tests pin the zero-match error path, and the ABAB summary's win/tie
counting and gain verdict, without starting a SparkSession.
"""
import importlib.util
import os


def _load_tool(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(os.path.dirname(__file__), "..", "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


driver_util = _load_tool("driver_util")
abab = _load_tool("abab")

QS = {"pricing_summary": 1, "join_revenue_by_nation": 2, "exact_dedup_docs": 3}


def test_only_regex_filters():
    got, err = driver_util.filter_only(QS, "dedup|pricing")
    assert err is None
    assert set(got) == {"pricing_summary", "exact_dedup_docs"}


def test_only_substring_match():
    got, err = driver_util.filter_only(QS, "revenue")
    assert err is None and set(got) == {"join_revenue_by_nation"}


def test_only_zero_match_is_error():
    got, err = driver_util.filter_only(QS, "no_such_query")
    assert got == {} and err is not None
    assert "matched 0" in err


def test_only_comma_list_suggests_alternation():
    # The motivating mistake: a comma-joined "list" matches nothing.
    got, err = driver_util.filter_only(QS, "pricing_summary,exact_dedup_docs")
    assert got == {} and err is not None
    assert "'|'" in err and "comma" in err


# A's quartiles (inclusive method) are 1.225 / 1.45 / 1.675: IQR 0.45.
A = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9]


def test_abab_ties_count_for_neither_side():
    s = abab.summarize(A, [t - 0.6 for t in A[:5]] + A[5:])
    assert (s["b_wins"], s["ties"], s["pairs"]) == (5, 5, 10)
    assert s["gain"] is False


def test_abab_nine_of_ten_wins_beyond_iqr_is_gain():
    s = abab.summarize(A, [t - 0.6 for t in A[:9]] + [2.0])
    assert s["b_wins"] == 9 and s["ties"] == 0
    assert s["a"]["median_s"] - s["b"]["median_s"] > s["a"]["q3_s"] - s["a"]["q1_s"]
    assert s["gain"] is True


def test_abab_eight_of_ten_wins_is_no_gain():
    # Same median gap as the 9/10 case; only the win count falls short.
    s = abab.summarize(A, [t - 0.6 for t in A[:8]] + [1.9, 2.0])
    assert s["b_wins"] == 8
    assert s["a"]["median_s"] - s["b"]["median_s"] > s["a"]["q3_s"] - s["a"]["q1_s"]
    assert s["gain"] is False


def test_abab_gap_inside_iqr_is_no_gain():
    # B wins all ten pairs, but by less than A's interquartile range.
    s = abab.summarize(A, [t - 0.1 for t in A])
    assert s["b_wins"] == 10
    assert s["a"]["median_s"] - s["b"]["median_s"] < s["a"]["q3_s"] - s["a"]["q1_s"]
    assert s["gain"] is False


def test_abab_alternates_which_side_runs_first():
    assert [abab.pair_order(i) for i in range(4)] == [
        ("A", "B"), ("B", "A"), ("A", "B"), ("B", "A")
    ]
