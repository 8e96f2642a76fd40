"""Hypothesis property tests for the round-10 oracle ALGORITHMS on
randomized data shapes (the r9 Brandes lesson: a twin pinned to one
fixture shape can certify a wrong algorithm — the dense fixture never
exercised zero-successor levels). These run the REGISTERED DuckDB oracle
SQL against synthetic tables registered under the fixture table names,
compared to independent numpy/pure-Python twins — no Spark session, so
hundreds of shapes cost seconds. Spark <-> oracle equality on the real
fixtures is pinned separately by the parity suite; together the two
sides pin Spark <-> math.

Shapes covered that the TPC-H fixtures cannot produce: tiny groups
(n_g = 2), all-values-tied columns, single-distinct-value features,
monotone and constant series, series barely longer than the window.
"""
from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _con_with_lineitem(df: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("li_src", df)
    con.sql("CREATE VIEW lineitem AS SELECT * FROM li_src")
    return con


# -- Brunner-Munzel ---------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    x=st.lists(st.integers(1, 8), min_size=3, max_size=40),
    y=st.lists(st.integers(1, 8), min_size=3, max_size=40),
)
def test_brunner_munzel_oracle_random_shapes(x, y):
    df = pd.DataFrame(
        {
            "l_quantity": [float(v) for v in x + y],
            "l_linestatus": ["O"] * len(x) + ["F"] * len(y),
        }
    )
    xa, ya = np.array(x, float), np.array(y, float)
    nx, ny = len(xa), len(ya)
    rankc = pd.Series(np.concatenate([xa, ya])).rank(method="average").to_numpy()
    rankcx, rankcy = rankc[:nx], rankc[nx:]
    rankx = pd.Series(xa).rank(method="average").to_numpy()
    ranky = pd.Series(ya).rank(method="average").to_numpy()
    sx = ((rankcx - rankx - rankcx.mean() + rankx.mean()) ** 2).sum() / (nx - 1)
    sy = ((rankcy - ranky - rankcy.mean() + ranky.mean()) ** 2).sum() / (ny - 1)
    denom = (nx + ny) * np.sqrt(nx * sx + ny * sy)
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_brunner_munzel"].oracle).df().iloc[0]
    assert row.n1 == nx and row.n2 == ny
    p_hat = (rankcy.mean() - (ny + 1) / 2) / nx
    assert row.p_hat == pytest.approx(p_hat, abs=1e-6)
    if denom > 0:  # degenerate all-tied samples have 0 rank variance
        w = nx * ny * (rankcy.mean() - rankcx.mean()) / denom
        assert row.w_stat == pytest.approx(w, abs=1e-6)


# -- Lepage -----------------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    x=st.lists(st.integers(1, 6), min_size=3, max_size=30),
    y=st.lists(st.integers(1, 6), min_size=3, max_size=30),
)
def test_lepage_oracle_random_shapes(x, y):
    df = pd.DataFrame(
        {
            "l_quantity": [float(v) for v in x + y],
            "l_linestatus": ["O"] * len(x) + ["F"] * len(y),
        }
    )
    allv = np.array(x + y, float)
    n = len(allv)
    n1 = len(x)
    r = pd.Series(allv).rank(method="average").to_numpy()
    s = np.minimum(r, n + 1 - r)
    g1 = np.arange(n) < n1

    def srs_z(stat, vals):
        n2 = n - n1
        var = n1 * n2 * (n * (vals**2).sum() - vals.sum() ** 2) / (
            n**2 * (n - 1)
        )
        if var <= 0:
            return None
        return (stat - n1 * vals.mean()) / np.sqrt(var)

    zw = srs_z(r[g1].sum(), r)
    za = srs_z(s[g1].sum(), s)
    if zw is None or za is None:  # all-tied degenerate scores
        return
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_lepage"].oracle).df().iloc[0]
    assert row.w_component == pytest.approx(zw**2, abs=1e-6)
    assert row.a_component == pytest.approx(za**2, abs=1e-6)
    assert row.lepage_l == pytest.approx(zw**2 + za**2, abs=1e-6)


# -- Jonckheere-Terpstra ----------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(1, 4), st.integers(1, 5)),
        min_size=8,
        max_size=60,
    )
)
@example(data=[(1, 1)] * 7 + [(2, 1)])  # all-tied: variance floats to -1e-15
def test_jonckheere_oracle_random_shapes(data):
    groups = sorted({g for g, _ in data})
    if len(groups) < 2:
        return
    df = pd.DataFrame(
        {
            "l_linenumber": [g for g, _ in data],
            "l_quantity": [float(v) for _, v in data],
        }
    )
    per = {g: np.sort(df[df.l_linenumber == g].l_quantity.to_numpy()) for g in groups}
    u2 = 0
    for a in range(len(groups)):
        for b in range(a + 1, len(groups)):
            xs, y = per[groups[a]], per[groups[b]]
            less = np.searchsorted(xs, y, side="left")
            leq = np.searchsorted(xs, y, side="right")
            u2 += int(2 * less.sum() + (leq - less).sum())
    n = len(df)
    ng = np.array([len(per[g]) for g in groups], dtype=np.int64)
    tv = df.l_quantity.value_counts().to_numpy().astype(np.int64)
    var = (
        (
            n * (n - 1) * (2 * n + 5)
            - (ng * (ng - 1) * (2 * ng + 5)).sum()
            - (tv * (tv - 1) * (2 * tv + 5)).sum()
        )
        / 72
        + (ng * (ng - 1) * (ng - 2)).sum()
        * (tv * (tv - 1) * (tv - 2)).sum()
        / (36 * n * (n - 1) * (n - 2))
        + (ng * (ng - 1)).sum() * (tv * (tv - 1)).sum() / (8 * n * (n - 1))
    )
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_jonckheere_terpstra"].oracle).df().iloc[0]
    assert row.u2 == u2
    assert row.k == len(groups)
    if var > 0:
        z = (u2 / 2 - (n * n - (ng * ng).sum()) / 4) / np.sqrt(var)
        assert row.z_stat == pytest.approx(z, abs=1e-6)


# -- Quantile normalization -------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 3), st.integers(0, 2)),
        min_size=2,
        max_size=50,
    )
)
def test_quantile_normalization_oracle_random_shapes(rows):
    df = pd.DataFrame(
        {
            "l_quantity": [float(q) for q, _, _ in rows],
            "l_discount": [d / 100.0 for _, d, _ in rows],
            "l_tax": [t / 100.0 for _, _, t in rows],
        }
    )
    cols = {
        "quantity": np.sort(np.round(df.l_quantity.to_numpy() * 100).astype(np.int64)),
        "discount": np.sort(np.round(df.l_discount.to_numpy() * 100).astype(np.int64)),
        "tax": np.sort(np.round(df.l_tax.to_numpy() * 100).astype(np.int64)),
    }
    refsum = cols["quantity"] + cols["discount"] + cols["tax"]
    expected = {}
    for name, arr in cols.items():
        vals, starts, counts = np.unique(arr, return_index=True, return_counts=True)
        for v, s, c in zip(vals, starts, counts):
            expected[(name, v / 100.0)] = round(
                refsum[s : s + c].sum() / (3.0 * 100.0 * c), 6
            )
    con = _con_with_lineitem(df)
    out = con.sql(REGISTRY["feature_quantile_normalization"].oracle).df()
    assert len(out) == len(expected)
    for _, r in out.iterrows():
        assert r.qnorm == pytest.approx(expected[(r.col, r.v)], abs=0.0), (
            r.col,
            r.v,
        )


# -- Matrix profile ---------------------------------------------------------

def _mp_twin(cents: np.ndarray, m: int, excl: int):
    n_sub = len(cents) - m + 1
    subs = np.lib.stride_tricks.sliding_window_view(cents.astype(float), m)
    mu = subs.mean(axis=1, keepdims=True)
    sd = subs.std(axis=1, keepdims=True)
    out = {}
    for i in range(n_sub):
        if sd[i] == 0:
            continue
        best = np.inf
        for j in range(n_sub):
            if abs(i - j) < excl or sd[j] == 0:
                continue
            zi = (subs[i] - mu[i]) / sd[i]
            zj = (subs[j] - mu[j]) / sd[j]
            d = float(np.sqrt(((zi - zj) ** 2).sum()))
            best = min(best, d)
        if np.isfinite(best):
            out[i + 1] = best
    return out


def _cpp_round6(x: float) -> float:
    """DuckDB's round(x, 6) on a double: std::round(x * 1e6) / 1e6, with
    std::round's half-away-from-zero on the scaled value."""
    import math

    y = abs(x * 1e6)
    r = math.floor(y)
    return math.copysign(r + (y - r >= 0.5), x) / 1e6


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(st.integers(0, 50), min_size=40, max_size=80),
    null_block=st.tuples(st.integers(0, 79), st.integers(0, 40)),
)
@example(vals=[0] * 40, null_block=(0, 0))  # constant series: zero-variance subsequences
def test_matrix_profile_oracle_random_series(vals, null_block):
    """Random integer series, one event per hour, so the oracle's hourly
    compression reproduces the series verbatim — covers constant
    subsequences (zero variance -> excluded via NULL on both sides),
    near-duplicates (the greatest(0,..) clip), and short series. The
    driver-side kernel (_mp_kernel) must equal the oracle's mp_dist and
    nn_idx exactly on the series and on a copy with a block of NULL
    hours (``null_block`` = (start, length)), no Spark involved."""
    from go_batch_processor_spark.operators.timeseries import (
        MP_EXCL_H,
        MP_WINDOW_H,
        _mp_kernel,
    )

    def oracle(series):
        ts = pd.date_range("2024-01-01", periods=len(series), freq="h")
        df = pd.DataFrame(
            {"ts": ts, "value": [None if v is None else v / 100.0 for v in series]}
        )
        con = duckdb.connect()
        con.register("ev_src", df)
        con.sql("CREATE VIEW events AS SELECT * FROM ev_src")
        out = con.sql(REGISTRY["timeseries_matrix_profile"].oracle).df()
        con.close()
        return [(int(r.i), float(r.mp_dist), int(r.nn_idx)) for r in out.itertuples()]

    out = oracle(vals)
    twin = _mp_twin(np.array(vals, dtype=np.int64), MP_WINDOW_H, MP_EXCL_H)
    got = {i: d for i, d, _ in out}
    assert set(got) == set(twin)
    for i, d in twin.items():
        assert got[i] == pytest.approx(d, abs=1e-4), i

    lo, size = null_block
    nulled = [None if lo <= k < lo + size else v for k, v in enumerate(vals)]
    for series, want in ((vals, out), (nulled, oracle(nulled))):
        profile, _ab, _motif = _mp_kernel(series)
        assert [(i, _cpp_round6(mp), nn) for i, mp, nn in profile] == want


# -- Holt grid --------------------------------------------------------------

def _round_away(x: float, k: int) -> float:
    """Half-AWAY-from-zero decimal rounding — what Spark's BigDecimal
    HALF_UP and DuckDB's round() both do. Python's round() is banker's
    (half-to-even), which hypothesis caught diverging on an exact
    -0.00625 level from a degenerate 4-point series; the ENGINES agreed
    with each other bit-for-bit (verified directly), only the twin was
    wrong."""
    import math

    p = 10.0**k
    return math.copysign(math.floor(abs(x) * p + 0.5) / p, x)


@settings(max_examples=15, deadline=None)
@given(vals=st.lists(st.integers(0, 10_000), min_size=3, max_size=40))
@example(vals=[1, 0, 0, 0])  # exact -0.00625 level: the banker's-rounding twin bug
def test_holt_oracle_random_series(vals):
    from go_batch_processor_spark.operators.timeseries import HOLT_GRID

    ts = pd.date_range("2024-01-01", periods=len(vals), freq="D")
    df = pd.DataFrame({"ts": ts, "value": [v / 100.0 for v in vals]})
    con = duckdb.connect()
    con.register("ev_src", df)
    con.sql("CREATE VIEW events AS SELECT * FROM ev_src")
    out = con.sql(REGISTRY["timeseries_holt_grid_search"].oracle).df()
    v = [x / 100.0 for x in vals]

    def holt(a, b):
        lvl, tr, sse = v[1], v[1] - v[0], 0.0
        for x in v[2:]:
            e = x - (lvl + tr)
            ln = a * x + (1 - a) * (lvl + tr)
            tr = b * (ln - lvl) + (1 - b) * tr
            lvl = ln
            sse += e * e
        return sse, lvl, tr

    assert len(out) == len(HOLT_GRID)
    for _, r in out.iterrows():
        sse, lvl, tr = holt(r.alpha, r.beta)
        assert r.sse == pytest.approx(_round_away(sse, 6), abs=0.0)
        assert r.level == pytest.approx(_round_away(lvl, 4), abs=0.0)
        assert r.trend == pytest.approx(_round_away(tr, 4), abs=0.0)


# -- Backlog keys facing their first driver sample (r10) --------------------
# Cheap insurance: these four oracled keys have never had a driver row;
# random-shape twins catch any parity-blind math edge before the sample.


def _con_with_events(df: pd.DataFrame) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.register("ev_src", df)
    con.sql("CREATE VIEW events AS SELECT * FROM ev_src")
    return con


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["click", "view", "purchase"]), st.integers(0, 40)),
        min_size=6,
        max_size=60,
    )
)
def test_mood_median_oracle_random_shapes(rows):
    df = pd.DataFrame(
        {
            "event_type": [t for t, _ in rows],
            "value": [v / 100.0 for _, v in rows],
        }
    )
    c = np.round(df.value.to_numpy() * 100).astype(np.int64)
    m = np.percentile(c.astype(float), 50)  # linear interp == quantile_cont
    nn = len(c)
    aa = int((c > m).sum())
    if aa == 0:
        return  # every group's exp_above is 0 -> 1/0 edge, undefined test
    con = _con_with_events(df)
    out = con.sql(REGISTRY["stats_mood_median_test"].oracle).df()
    for _, r in out.iterrows():
        grp = df.event_type == r.event_type
        n = int(grp.sum())
        n_above = int((c[grp.to_numpy()] > m).sum())
        assert r.n == n and r.n_above == n_above
        exp = n * (aa / nn)
        if exp == 0 or exp == n:
            continue
        contrib = (n_above - exp) ** 2 * (1.0 / exp + 1.0 / (n - exp))
        assert r.exp_above == pytest.approx(exp, abs=1e-6)
        assert r.contrib == pytest.approx(contrib, abs=1e-6)


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),  # user
            st.integers(0, 3),  # day
            st.sampled_from(["click", "view", "purchase"]),
        ),
        min_size=6,
        max_size=60,
    )
)
def test_cochran_q_oracle_random_shapes(rows):
    ts = [pd.Timestamp("2024-01-01") + pd.Timedelta(days=d) for _, d, _ in rows]
    df = pd.DataFrame(
        {
            "user_id": [u for u, _, _ in rows],
            "ts": ts,
            "event_type": [t for _, _, t in rows],
        }
    )
    mat = (
        df.assign(one=1)
        .pivot_table(
            index=["user_id", df.ts.dt.floor("D")],
            columns="event_type",
            values="one",
            aggfunc="max",
            fill_value=0,
        )
        .reindex(columns=["click", "purchase", "view"], fill_value=0)
        .to_numpy()
    )
    cj = mat.sum(axis=0).astype(np.int64)
    ri = mat.sum(axis=1).astype(np.int64)
    g = int(ri.sum())
    denom = 3 * g - int((ri**2).sum())
    con = _con_with_events(df)
    row = con.sql(REGISTRY["stats_cochran_q"].oracle).df().iloc[0]
    assert row.n_subjects == mat.shape[0]
    assert (
        row.c_click == cj[0] and row.c_purchase == cj[1] and row.c_view == cj[2]
    )
    if denom > 0:
        q = 2.0 * (3 * int((cj**2).sum()) - g * g) / denom
        assert row.q_stat == pytest.approx(q, abs=1e-6)


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(st.integers(0, 10_000), min_size=3, max_size=120),
)
def test_lttb_oracle_random_series(vals):
    """The centroid-anchored LTTB variant re-derived in pure Python —
    including the n < 50 regime where bucket indices skip and the last
    bucket's lead() anchor is NULL (skey NULL -> ordered last on both
    engines, tie-break by hour)."""
    ts = pd.date_range("2024-01-01", periods=len(vals), freq="h")
    df = pd.DataFrame({"ts": ts, "value": [v / 100.0 for v in vals]})
    n = len(vals)
    cents = np.array(vals, dtype=np.int64)
    rn = np.arange(1, n + 1)
    b = (rn - 1) * 50 // n
    buckets = sorted(set(b.tolist()))
    cx = {bb: rn[b == bb].mean() for bb in buckets}
    cy = {bb: cents[b == bb].mean() / 100.0 for bb in buckets}
    expected = {}
    for bi, bb in enumerate(buckets):
        members = np.where(b == bb)[0]
        skeys = []
        for i in members:
            if bb == 0:
                sk = float(-rn[i])
            elif bb == 49:
                sk = float(rn[i] - n)
            else:
                px = cx.get(buckets[bi - 1]) if bi > 0 else None
                py = cy.get(buckets[bi - 1]) if bi > 0 else None
                nx = cx.get(buckets[bi + 1]) if bi + 1 < len(buckets) else None
                ny = cy.get(buckets[bi + 1]) if bi + 1 < len(buckets) else None
                v = cents[i] / 100.0
                if px is None or nx is None:
                    sk = None
                else:
                    sk = abs((px - nx) * (v - py) - (px - rn[i]) * (ny - py))
            skeys.append(sk)
        # row_number ORDER BY skey DESC (NULLS LAST), hour ASC
        order = sorted(
            range(len(members)),
            key=lambda k: (
                0 if skeys[k] is not None else 1,
                -(skeys[k] if skeys[k] is not None else 0.0),
                members[k],
            ),
        )
        win = members[order[0]]
        expected[bb] = (ts[win], cents[win] / 100.0)
    con = _con_with_events(df)
    out = con.sql(REGISTRY["timeseries_lttb_downsample"].oracle).df()
    assert len(out) == len(expected)
    for _, r in out.iterrows():
        eh, ev = expected[int(r.bucket)]
        assert pd.Timestamp(r.hour) == eh, int(r.bucket)
        assert r.v == pytest.approx(ev, abs=1e-9)


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 300)),
        min_size=2,
        max_size=40,
    )
)
def test_twap_oracle_random_shapes(rows):
    """Zero-order-hold time-weighted average re-derived independently:
    per user, each value holds until the next observation (ties on ts
    broken by event_id, the repo-wide convention)."""
    df = pd.DataFrame(
        {
            "user_id": [u for u, _, _ in rows],
            "ts": [
                pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s)
                for _, s, _ in rows
            ],
            "value": [v / 100.0 for _, _, v in rows],
            "event_id": list(range(len(rows))),
        }
    )
    expected = {}
    for u, grp in df.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"])
        cents = np.round(g.value.to_numpy() * 100).astype(np.int64)
        secs = g.ts.astype("int64").to_numpy() // 1_000_000_000
        durs = np.diff(secs)
        if len(durs) == 0 or durs.sum() == 0:
            continue
        expected[u] = (
            int(durs.sum()),
            len(durs),
            round(float((cents[:-1] * durs).sum()) / durs.sum() / 100.0, 6),
        )
    con = _con_with_events(df)
    out = con.sql(REGISTRY["timeseries_time_weighted_avg"].oracle).df()
    assert len(out) == len(expected)
    for _, r in out.iterrows():
        span, nseg, twap = expected[r.user_id]
        assert r.span_s == span and r.n_segments == nseg
        assert r.twap == pytest.approx(twap, abs=1e-6)


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 100_000)),
        min_size=4,
        max_size=60,
    )
)
def test_breusch_pagan_oracle_random_shapes(rows):
    """OLS + auxiliary u^2-on-x regression re-derived with numpy from raw
    (quantity, price-cents) pairs; requires non-degenerate x variance."""
    df = pd.DataFrame(
        {
            "l_quantity": [float(q) for q, _ in rows],
            "l_extendedprice": [c / 100.0 for _, c in rows],
        }
    )
    x = df.l_quantity.to_numpy()
    y = np.round(df.l_extendedprice.to_numpy() * 100)
    n = len(x)
    if np.ptp(x) == 0:
        return  # no x variance: slope undefined
    beta = ((n * (x * y).sum() - x.sum() * y.sum())
            / (n * (x * x).sum() - x.sum() ** 2))
    alpha = (y.sum() - beta * x.sum()) / n
    u2 = (y - alpha - beta * x) ** 2
    if np.ptp(u2) == 0:
        return  # perfectly homoscedastic: aux r2 is 0/0
    r = np.corrcoef(x, u2)[0, 1]
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_breusch_pagan"].oracle).df().iloc[0]
    assert row.n == n
    assert row.beta_cents_per_unit == pytest.approx(beta, abs=1e-5)
    assert row.alpha_dollars == pytest.approx(alpha / 100.0, abs=1e-3)
    assert row.r2_aux == pytest.approx(r * r, abs=1e-5)
    assert row.lm_stat == pytest.approx(n * r * r, abs=0.02)


@settings(max_examples=20, deadline=None)
@given(vals=st.lists(st.integers(0, 10_000), min_size=4, max_size=40))
def test_sen_slope_ci_oracle_random_series(vals):
    """Theil-Sen slope + distribution-free order-statistic CI re-derived
    from raw daily cents: all pairwise slopes sorted, median as the
    average of the two middle ranks, CI bounds at the Mann-Kendall
    variance ranks (tie-corrected)."""
    ts = pd.date_range("2024-01-01", periods=len(vals), freq="D")
    df = pd.DataFrame({"ts": ts, "value": [v / 100.0 for v in vals]})
    v = np.array(vals, dtype=np.int64)
    n = len(v)
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            slopes.append((v[j] - v[i]) / (j - i))
    s = np.sort(np.array(slopes))
    t = len(s)
    tv = pd.Series(v).value_counts().to_numpy().astype(np.int64)
    var_s = (
        n * (n - 1) * (2 * n + 5) - (tv * (tv - 1) * (2 * tv + 5)).sum()
    ) / 18.0
    sd = np.sqrt(var_s)
    k_lo = max(1, int(np.floor((t - 1.96 * sd) / 2.0)) + 1)
    k_hi = min(t, int(np.ceil((t + 1.96 * sd) / 2.0)) + 1)
    sen = (s[(t + 1) // 2 - 1] + s[(t + 2) // 2 - 1]) / 2.0 / 100.0
    con = _con_with_events(df)
    row = con.sql(REGISTRY["timeseries_sen_slope_ci"].oracle).df().iloc[0]
    assert row.n_pairs == t and row.k_lo == k_lo and row.k_hi == k_hi
    assert row.sen_slope_per_day == pytest.approx(sen, abs=1e-6)
    assert row.ci_lo == pytest.approx(s[k_lo - 1] / 100.0, abs=1e-6)
    assert row.ci_hi == pytest.approx(s[k_hi - 1] / 100.0, abs=1e-6)


# -- Older high-machinery oracles (queue item: property backfill) ------------


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(st.integers(0, 30), min_size=4, max_size=40))
def test_mann_kendall_oracle_random_series(vals):
    ts = pd.date_range("2024-01-01", periods=len(vals), freq="D")
    df = pd.DataFrame({"ts": ts, "value": [v / 100.0 for v in vals]})
    v = np.array(vals, dtype=np.int64)
    n = len(v)
    s = int(np.sign(v[None, :] - v[:, None])[np.triu_indices(n, 1)].sum())
    tv = pd.Series(v).value_counts()
    tv = tv[tv > 1].to_numpy().astype(np.int64)
    tie_term = int((tv * (tv - 1) * (2 * tv + 5)).sum()) if len(tv) else 0
    var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    con = _con_with_events(df)
    row = con.sql(REGISTRY["stats_mann_kendall"].oracle).df().iloc[0]
    assert row.n == n and row.s == s
    assert row.var_s == pytest.approx(var_s, abs=1e-4)
    if var_s > 0:
        cc = (s - 1) if s > 0 else (s + 1) if s < 0 else 0
        assert row.z == pytest.approx(cc / np.sqrt(var_s), abs=1e-6)


@settings(max_examples=25, deadline=None)
@given(vals=st.lists(st.integers(0, 30), min_size=4, max_size=40))
def test_pettitt_oracle_random_series(vals):
    ts = pd.date_range("2024-01-01", periods=len(vals), freq="D")
    df = pd.DataFrame({"ts": ts, "value": [v / 100.0 for v in vals]})
    v = np.array(vals, dtype=np.int64)
    n = len(v)
    r2 = np.array(
        [2 * int((v < x).sum()) + int((v == x).sum()) + 1 for x in v],
        dtype=np.int64,
    )
    ut = np.cumsum(r2 - n - 1)
    k_per_t = np.abs(ut[:-1])  # t < last day
    k = int(k_per_t.max())
    t_star = int(np.argmax(k_per_t))  # first max -> earliest day
    con = _con_with_events(df)
    row = con.sql(REGISTRY["stats_pettitt_test"].oracle).df().iloc[0]
    assert row.n == n and row.k_stat == k
    assert pd.Timestamp(row.change_day) == ts[t_star]
    assert row.neg_ln_half_p == pytest.approx(
        6.0 * k * k / (n**3 + n**2), abs=1e-6
    )


@settings(max_examples=25, deadline=None)
@given(
    x=st.lists(st.integers(1, 8), min_size=3, max_size=40),
    y=st.lists(st.integers(1, 8), min_size=3, max_size=40),
)
def test_anderson_darling_2samp_oracle_random_shapes(x, y):
    """Scholz-Stephens tie-adjusted midrank A2 (the continuous-midpoint
    variant the key stages in exact rhu integers) re-derived in float:
    A2 = (n-1)/n^2 * sum_j f_j * (na_j^2/(n1*d4_j) + nb_j^2/(n2*d4_j)).
    The rhu staging is exact to ~1e-12 per term, so a2_micros/1e6 must
    match within ~3e-6. Requires >= 2 distinct values (a single-value
    column makes the last d4 exactly 0 — division by zero on both
    engines; unreachable on the fixtures)."""
    allv = x + y
    if len(set(allv)) < 2:
        return
    df = pd.DataFrame(
        {
            "l_quantity": [float(v) for v in allv],
            "l_returnflag": ["R"] * len(x) + ["N"] * len(y),
        }
    )
    vals = np.array(sorted(set(allv)), dtype=np.int64)
    xa = np.array(x)
    ya = np.array(y)
    n1, n2 = len(xa), len(ya)
    n = n1 + n2
    a2 = 0.0
    f1c = 0  # cumulative count of sample 1
    cbc = 0  # cumulative count of both
    for v in vals:
        c1 = int((xa == v).sum())
        c2 = int((ya == v).sum())
        f = c1 + c2
        f1c += c1
        cbc += f
        na = n * (2 * f1c - c1) - n1 * (2 * cbc - f)
        nb = n * (2 * (cbc - f1c) - c2) - n2 * (2 * cbc - f)
        d4 = (2 * cbc - f) * (2 * n - (2 * cbc - f)) - n * f
        if d4 == 0:
            continue  # only possible at the extremes with f covering all
        a2 += f * (na**2 / (n1 * d4) + nb**2 / (n2 * d4))
    a2 *= (n - 1) / (n * n)
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_anderson_darling_2samp"].oracle).df().iloc[0]
    assert row.n1 == n1 and row.n2 == n2
    assert row.a2_micros / 1e6 == pytest.approx(a2, abs=3e-6)


@settings(max_examples=25, deadline=None)
@given(
    grid=st.lists(
        st.lists(st.integers(0, 1000), min_size=3, max_size=5),
        min_size=3,
        max_size=7,
    )
)
def test_quade_oracle_random_complete_blocks(grid):
    """Quade re-derived from a random complete-block table: one event
    per (day-of-week block, event-type treatment) cell so the oracle's
    cell means reproduce the grid verbatim."""
    k = min(len(row) for row in grid)
    grid = [row[:k] for row in grid]
    b = len(grid)
    trts = ["click", "view", "purchase", "login", "logout"][:k]
    rows = []
    # 2024-01-07 is a Sunday: days 0..6 map to distinct dayofweek blocks
    for bi, row in enumerate(grid):
        for ti, v in enumerate(row):
            rows.append(
                {
                    "ts": pd.Timestamp("2024-01-07") + pd.Timedelta(days=bi),
                    "event_type": trts[ti],
                    "value": v / 100.0,
                }
            )
    df = pd.DataFrame(rows)
    m = np.round(np.array(grid, dtype=float) / 100.0, 6)
    # within-block rank, ties by treatment NAME (the oracle's tie-break)
    r = np.zeros_like(m)
    for bi in range(b):
        pairs = sorted(range(k), key=lambda t: (m[bi][t], trts[t]))
        for rank0, t in enumerate(pairs):
            r[bi][t] = rank0 + 1
    rng = m.max(axis=1) - m.min(axis=1)
    qorder = sorted(range(b), key=lambda i: (rng[i], i))
    q = np.zeros(b)
    for rank0, i in enumerate(qorder):
        q[i] = rank0 + 1
    S = q[:, None] * (r - (k + 1) / 2)
    Sj = S.sum(axis=0)
    A2 = float((S**2).sum())
    B = float((Sj**2).sum()) / b
    con = _con_with_events(df)
    row = con.sql(REGISTRY["stats_quade_test"].oracle).df().iloc[0]
    assert row.b == b and row.k == k
    assert row.a4 == pytest.approx(4 * A2, abs=1e-6)
    assert row.b4b == pytest.approx(4 * b * B, abs=1e-6)
    if A2 > B:
        assert row.f_stat == pytest.approx((b - 1) * B / (A2 - B), abs=1e-6)


@settings(max_examples=25, deadline=None)
@given(
    x=st.lists(st.integers(1, 8), min_size=3, max_size=40),
    y=st.lists(st.integers(1, 8), min_size=3, max_size=40),
)
def test_cucconi_oracle_random_shapes(x, y):
    """Cucconi joint location-scale test re-derived from raw midranks:
    U/V scores R^2 and (N+1-R)^2 standardized by exact SRS population
    moments, C = (zu^2 + zv^2 - 2 rho zu zv)/(2(1-rho^2))."""
    allv = np.array(x + y, float)
    n = len(allv)
    n1 = len(x)
    n2 = n - n1
    r = pd.Series(allv).rank(method="average").to_numpy()
    u = r**2
    v = (n + 1 - r) ** 2
    g1 = np.arange(n) < n1
    ubar, vbar = u.mean(), v.mean()
    su2 = (u**2).mean() - ubar**2
    sv2 = (v**2).mean() - vbar**2
    if su2 <= 0 or sv2 <= 0:
        return  # fully tied — zero score variance
    zu = (u[g1].sum() - n1 * ubar) / np.sqrt(n1 * n2 / (n - 1) * su2)
    zv = (v[g1].sum() - n1 * vbar) / np.sqrt(n1 * n2 / (n - 1) * sv2)
    rho = ((u * v).mean() - ubar * vbar) / (np.sqrt(su2) * np.sqrt(sv2))
    df = pd.DataFrame(
        {
            "l_quantity": [float(q) for q in x + y],
            "l_returnflag": ["R"] * n1 + ["N"] * n2,
        }
    )
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_cucconi_test"].oracle).df().iloc[0]
    assert row.n1 == n1 and row.n2 == n2
    assert row.z_u == pytest.approx(zu, abs=1e-6)
    assert row.z_v == pytest.approx(zv, abs=1e-6)
    assert row.rho == pytest.approx(rho, abs=1e-6)
    if abs(rho) < 1 - 1e-9:
        c = (zu**2 + zv**2 - 2 * rho * zu * zv) / (2 * (1 - rho**2))
        assert row.c_stat == pytest.approx(c, abs=1e-5)


def _zigzag_scores(n: int) -> np.ndarray:
    """Classic Siegel-Tukey assignment: 1 to the lowest, 2-3 to the two
    highest, 4-5 to the next two lowest, alternating pairs inward."""
    s = np.zeros(n, dtype=np.int64)
    lo, hi, rank = 0, n - 1, 1
    s[lo] = rank
    lo += 1
    rank += 1
    take_high = True
    while rank <= n:
        for _ in range(2):
            if rank > n:
                break
            if take_high:
                s[hi] = rank
                hi -= 1
            else:
                s[lo] = rank
                lo += 1
            rank += 1
        take_high = not take_high
    return s


@settings(max_examples=30, deadline=None)
@given(
    x=st.lists(st.integers(1, 6), min_size=3, max_size=30),
    y=st.lists(st.integers(1, 6), min_size=3, max_size=30),
)
@example(x=[1, 1, 1], y=[1, 1, 1, 2])  # N=7: middle belongs to the HIGH side
def test_siegel_tukey_oracle_random_shapes(x, y):
    """The closed-form zigzag range sums (low/high split + parity
    counts) against the brute-force permutation on random tie-heavy
    shapes, through the full standardized statistic."""
    allv = np.array(x + y, float)
    n = len(allv)
    n1 = len(x)
    order = np.argsort(allv, kind="stable")
    pos_scores = _zigzag_scores(n).astype(float)
    sorted_vals = allv[order]
    s_sorted = np.zeros(n)
    i = 0
    while i < n:
        j = i
        while j < n and sorted_vals[j] == sorted_vals[i]:
            j += 1
        s_sorted[i:j] = pos_scores[i:j].mean()
        i = j
    obs = np.zeros(n)
    obs[order] = s_sorted
    g1 = np.arange(n) < n1
    t = obs[g1].sum()
    p = n * (n + 1) / 2
    q = (obs**2).sum()
    var = n1 * (n - n1) * (n * q - p * p) / (n * n * (n - 1))
    if var <= 0:
        return  # fully tied
    z = (t - n1 * (n + 1) / 2) / np.sqrt(var)
    df = pd.DataFrame(
        {
            "l_quantity": [float(v) for v in x + y],
            "l_linestatus": ["O"] * n1 + ["F"] * (n - n1),
        }
    )
    con = _con_with_lineitem(df)
    row = con.sql(REGISTRY["stats_siegel_tukey"].oracle).df().iloc[0]
    assert row.n1 == n1 and row.n2 == n - n1
    assert row.z_st == pytest.approx(z, abs=1e-6)
