"""The local gate replica must be at least as strict as the driver's
dtype-sensitive value hash (round-5 verdict item 2): an int64 column on
one side vs float64 on the other -- equal values -- must FAIL compare(),
because that exact gap (DuckDB HUGEINT -> float64 vs Spark BIGINT ->
int64) slipped five queries past the r5 local sweep."""

import pandas as pd

from tools.check_oracle import compare


def test_int_vs_float_same_values_fails():
    s = pd.DataFrame({"k": ["a", "b"], "n": pd.array([1, 2], dtype="int64")})
    o = pd.DataFrame({"k": ["a", "b"], "n": pd.array([1.0, 2.0], dtype="float64")})
    errs = compare("t", s, o)
    assert errs and any("dtype-kind" in e for e in errs)


def test_matching_kinds_pass():
    s = pd.DataFrame({"k": ["a", "b"], "n": pd.array([1, 2], dtype="int64")})
    o = pd.DataFrame({"n": pd.array([2, 1], dtype="int64"), "k": ["b", "a"]})
    assert compare("t", s, o) == []


def test_int_width_difference_is_not_a_kind_gap():
    # int32 vs int64 both hash as integers driver-side; only the
    # int-vs-float axis is the blind spot being closed.
    s = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    o = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    assert compare("t", s, o) == []


def test_value_mismatch_still_caught():
    s = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    o = pd.DataFrame({"n": pd.array([1, 3], dtype="int64")})
    assert compare("t", s, o)


def test_unknown_query_name_fails_before_any_query_runs(
        monkeypatch, capsys):
    import async_stream_processing_spark as pkg
    from tools import check_oracle

    def no_session(*a, **kw):
        raise AssertionError("a session started for an unknown name")

    monkeypatch.setattr(pkg, "get_spark", no_session, raising=False)
    monkeypatch.setattr(
        "sys.argv", ["check_oracle.py", "/root/testdata/sf0.01",
                     "stream_cusum", "stream_cusm"])
    assert check_oracle.main() != 0
    out = capsys.readouterr().out
    assert "unknown query names: ['stream_cusm']" in out
    assert "PASS" not in out
