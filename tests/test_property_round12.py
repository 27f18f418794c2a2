"""Property tests (hypothesis) for the time-series-diagnostics trio
(Mann-Kendall, changepoint, ACF) against brute-force pure-Python
references, and the streaming KMV multi-batch invariance law.

The diagnostics are exact-integer by design (values quantized
upstream, sums exact), so every comparison here is exact except where
the operator itself rounds (matched by rounding the reference the
same way).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from module8_movies_etl_spark.operators import stats, timeseries

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# integer series with plenty of ties, 3..40 points
SERIES = st.lists(st.integers(-50, 50), min_size=3, max_size=40)


def _sql_round(x, nd):
    """SQL ``round``: HALF_UP on the double's decimal repr, never
    Python's binary-exact round (87.50625 → 87.5063, not 87.5062)."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP)
    )


def _rows(vals):
    return [("k", i, v) for i, v in enumerate(vals)]


def _py_mann_kendall(vals):
    n = len(vals)
    s = sum(
        (0 if vals[j] == vals[i] else (1 if vals[j] > vals[i] else -1))
        for i in range(n)
        for j in range(i + 1, n)
    )
    ties = {}
    for v in vals:
        ties[v] = ties.get(v, 0) + 1
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    if var <= 0:
        z = 0.0
    elif s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    return n, s, _sql_round(var, 6), _sql_round(z, 6)


@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_mann_kendall_matches_bruteforce(spark, vals):
    # min_size=1: a single-point series must be REPORTED (n=1, S=0,
    # no trend), not silently dropped by the pair join
    df = spark.createDataFrame(_rows(vals), ["k", "o", "v"])
    (row,) = stats.mann_kendall(df, "k", "o", "v").collect()
    n, s, var, z = _py_mann_kendall(vals)
    assert (row["n"], row["s_stat"]) == (n, s)
    assert row["var_s"] == var
    assert row["z"] == z
    if z > 1.959964:
        assert row["trend"] == "increasing"
    elif z < -1.959964:
        assert row["trend"] == "decreasing"
    else:
        assert row["trend"] == "no trend"


def _py_changepoint(vals):
    n = len(vals)
    ts, tss = sum(vals), sum(v * v for v in vals)
    sse_tot = tss - ts * ts / n
    best = None
    cs = css = 0
    for k in range(1, n):
        cs += vals[k - 1]
        css += vals[k - 1] * vals[k - 1]
        sse = (css - cs * cs / k) + (
            (tss - css) - (ts - cs) * (ts - cs) / (n - k)
        )
        if best is None or sse < best[0]:
            best = (sse, k)
    sse_best, k = best
    gain = (sse_tot - sse_best) / sse_tot if sse_tot > 0 else 0.0
    return (
        k - 1,  # split_o = order value of the last left row (0-based)
        _sql_round(sse_tot / n, 4),
        _sql_round(sse_best / n, 4),
        _sql_round(gain, 6),
    )


@given(vals=SERIES)
@example(vals=[0, 0, 0, -1, -31, -34] + [0] * 9 + [3])  # var_best ties at .5
@settings(**SETTINGS)
def test_changepoint_matches_bruteforce(spark, vals):
    df = spark.createDataFrame(_rows(vals), ["k", "o", "v"])
    (row,) = timeseries.best_changepoint(df, "k", "o", "v").collect()
    split_o, var_tot, var_best, gain = _py_changepoint(vals)
    assert row["n"] == len(vals)
    assert row["split_o"] == split_o
    assert row["var_total"] == var_tot
    assert row["var_best"] == var_best
    assert row["gain_pct"] == gain


def _py_acf(vals, max_lag):
    n = len(vals)
    s = sum(vals)
    y = [n * v - s for v in vals]
    den = sum(t * t for t in y)
    out = {}
    for h in range(1, max_lag + 1):
        if h >= n:
            continue  # no pairs → row absent
        num = sum(y[t] * y[t + h] for t in range(n - h))
        out[h] = _sql_round(num / den, 6) if den > 0 else None
    return out


@given(vals=SERIES)
@settings(**SETTINGS)
def test_acf_matches_bruteforce(spark, vals):
    df = spark.createDataFrame(_rows(vals), ["k", "o", "v"])
    got = {
        r["lag"]: r["acf"]
        for r in timeseries.acf_by_key(df, "k", "o", "v", max_lag=7).collect()
    }
    assert got == _py_acf(vals, 7)


@given(vals=st.lists(st.integers(-5, 5), min_size=2, max_size=30))
@settings(**SETTINGS)
def test_changepoint_segment_means_explain_gain(spark, vals):
    """Invariant: a series that is two constant segments has a
    perfect split (gain_pct = 1) exactly when the segments differ;
    a constant series has zero gain."""
    df = spark.createDataFrame(
        _rows([vals[0]] * len(vals) + [vals[-1]] * len(vals)),
        ["k", "o", "v"],
    )
    (row,) = timeseries.best_changepoint(df, "k", "o", "v").collect()
    if vals[0] == vals[-1]:
        assert row["gain_pct"] == 0.0
    else:
        assert row["gain_pct"] == 1.0
        assert row["split_o"] == len(vals) - 1


@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        min_size=1,
        max_size=20,
    ),
    n_merges=st.integers(1, 5),
)
@settings(**SETTINGS)
def test_bpe_learn_matches_python_replay(spark, words, n_merges):
    from module8_movies_etl_spark.operators import text as text_ops

    docs = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                                 ["doc_id", "text"])
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["score"])
        for r in text_ops.bpe_learn(
            docs, "text", top_words=50, n_merges=n_merges
        ).collect()
    ]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    wf = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    assert sorted(got) == sorted(text_ops.bpe_merges_py(wf, n_merges))


def test_bpe_merge_fold_overlap(spark):
    """'aaa' under merge (a,a): left-to-right non-overlapping → the
    first pair merges, the trailing 'a' survives — and round 2's top
    pair is then ('aa','a')."""
    docs = spark.createDataFrame([(0, "aaa")], ["doc_id", "text"])
    from module8_movies_etl_spark.operators import text as text_ops

    rows = text_ops.bpe_learn(docs, "text", n_merges=2).collect()
    assert [(r["rank"], r["lhs"], r["rhs"]) for r in rows] == [
        (1, "a", "a"),
        (2, "aa", "a"),
    ]
