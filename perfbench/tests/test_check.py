"""The oracle comparison the benchmark applies to every output."""

import pandas as pd

import check


def test_equal_results_match_whatever_the_row_and_column_order():
    got = pd.DataFrame({"symbol": ["b", "a"], "close": [2.5, 1.25],
                        "n": [3, 4]})
    want = pd.DataFrame({"n": [4, 3], "close": [1.25, 2.5],
                         "symbol": ["a", "b"]})
    assert check.compare("q", got, want) == []


def test_a_differing_value_is_reported():
    got = pd.DataFrame({"symbol": ["a", "b"], "close": [1.25, 2.5]})
    want = pd.DataFrame({"symbol": ["a", "b"], "close": [1.25, 2.51]})
    problems = check.compare("q", got, want)
    assert len(problems) == 1 and "close" in problems[0]


def test_oracle_runs_on_duckdb_views(tmp_path):
    pd.DataFrame({"k": [1, 2, 2]}).to_parquet(tmp_path / "t.parquet")
    con = check.duckdb_over(str(tmp_path), ("t",))
    got = pd.DataFrame({"k": [2, 1], "n": [2, 1]})
    assert check.check(con, "q", got, "SELECT k, count(*) AS n FROM t GROUP BY k") == []
    assert check.check(con, "q", got, "SELECT k, 1 AS n FROM t GROUP BY k") != []
    assert check.check(con, "q", got, "SELECT nope FROM t") != []
