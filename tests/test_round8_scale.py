"""Round-8 scale-doctrine pins (VERDICT r7 items 6-7)."""

from __future__ import annotations

import math

from go_batch_processor_spark.operators.similarity import (
    CENTROID_BROADCAST_BUDGET,
    EMB_DIM,
    IVF_NLIST_MAX,
    IVF_NLIST_MIN,
    ivf_nlist,
)


def test_ivf_nlist_stays_broadcastable():
    """The production IVF sizing must (a) track sqrt(N) in the normal
    regime and (b) keep the broadcast centroid table bounded at ANY
    corpus size — nlist scales with sqrt(corpus), never with corpus."""
    for n in (1, 10**3, 10**6, 10**9, 10**12, 10**15):
        nlist = ivf_nlist(n)
        assert IVF_NLIST_MIN <= nlist <= IVF_NLIST_MAX
        # never more cells than sqrt(N) asks for (modulo the floor clamp)
        assert nlist <= max(int(math.isqrt(n)), IVF_NLIST_MIN)
        # the f64 centroid table must fit the broadcast budget
        assert nlist * EMB_DIM * 8 <= CENTROID_BROADCAST_BUDGET

    # normal regime: sqrt scaling exactly
    assert ivf_nlist(10**6) == 1000
    assert ivf_nlist(10**9) == 31622
    # 100 TB regime: clamped, not sqrt
    assert ivf_nlist(10**12) == IVF_NLIST_MAX
    # monotone non-decreasing in corpus size
    sizes = [ivf_nlist(n) for n in (10**3, 10**5, 10**7, 10**9, 10**11, 10**13)]
    assert sizes == sorted(sizes)


def test_rhu_idiom_matches_python_reference_on_both_engines(spark):
    """The signed round-half-up integer-division idiom must agree with
    the Python reference on BOTH engines across signs, half-points, and
    wide-decimal magnitudes — including the regime where Spark's DIV
    silently corrupts (quotient fits int64 but naive (P + Q DIV 2) DIV Q
    would overflow the inner quotient)."""
    import duckdb

    from go_batch_processor_spark.operators.timeseries import (
        _rhu_s_duck,
        _rhu_s_spark,
    )

    cases = [
        (7, 2), (-7, 2), (5, 2), (-5, 2), (0, 3), (1, 1),
        (10**12 + 1, 2), (-(10**12 + 1), 2),
        (3 * 10**24 + 1, 10**12), (-(3 * 10**24 + 1), 10**12),
        (3 * 10**24, 2 * 10**12),       # exact half-point, wide decimal
        (-(3 * 10**24), 2 * 10**12),
        (10**33, 10**25), (-(10**33), 10**25),
    ]

    def ref(p, q):  # round-half-up toward +inf for p>=0, mirrored
        if p >= 0:
            return (2 * p + q) // (2 * q)
        return -((2 * (-p) + q) // (2 * q))

    rows = ", ".join(
        f"(CAST('{p}' AS DECIMAL(38,0)), CAST('{q}' AS DECIMAL(38,0)))"
        for p, q in cases
    )
    got_spark = [
        r[0]
        for r in spark.sql(
            f"SELECT {_rhu_s_spark('p', 'q')} FROM VALUES {rows} AS t(p, q)"
        ).collect()
    ]
    duck_rows = ", ".join(
        f"(CAST('{p}' AS HUGEINT), CAST('{q}' AS HUGEINT))" for p, q in cases
    )
    got_duck = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {_rhu_s_duck('p', 'q')}"
            f" FROM (VALUES {duck_rows}) AS t(p, q)"
        ).fetchall()
    ]
    want = [ref(p, q) for p, q in cases]
    assert got_spark == want, (got_spark, want)
    assert got_duck == want, (got_duck, want)


def test_spark_div_quotient_overflow_still_silently_corrupts(spark):
    """Pin the Spark behavior the rhu doctrine defends against: DIV on
    wide decimals casts to LONG and silently corrupts quotients above
    int64 (no ANSI error). If a Spark upgrade ever fixes this, this test
    fails and the (2P+Q) DIV (2Q) doctrine can be revisited."""
    val = spark.sql(
        "SELECT CAST('3234567890123456789012345' AS DECIMAL(38,0)) DIV 2"
    ).first()[0]
    assert val != 3234567890123456789012345 // 2  # true quotient > int64


def test_fold_doctrine_audit_is_clean():
    """Regression gate for the round-8 determinism doctrine: no oracled
    key may (re)introduce a cross-engine double-fold construct — DuckDB
    list_reduce without HUGEINT widening, or Spark F.aggregate with a
    float init — outside the documented HANDOFF watchlist."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/fold_audit.py"],
        capture_output=True,
        text=True,
        cwd=__file__.rsplit("/tests/", 1)[0],
    )
    assert r.returncode == 0, r.stdout + r.stderr


def _np_exp_helper(x):
    import numpy as np

    return np.exp(x)


def test_fold_audit_flags_numpy_exp_in_an_oracled_key_helper(capsys):
    """An oracled key whose same-module helper calls np.exp is flagged:
    the oracles' exp/ln are glibc's, numpy's kernels round differently."""
    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded, register
    from tools import fold_audit

    _ensure_loaded()

    def fold_audit_probe(spark, sf_dir):
        return _np_exp_helper(0.0)

    register("fold_audit_probe", oracle="SELECT 1")(fold_audit_probe)
    try:
        assert fold_audit.main() == 1
    finally:
        del REGISTRY["fold_audit_probe"]
    assert "FLAG fold_audit_probe: np.exp" in capsys.readouterr().out
