"""Semantic tests for the ML primitives (k-means Lloyd, Misra-Gries
heavy hitters) beyond what the driver's rows-only / oracle checks cover."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from go_batch_processor_spark.catalog import load_table
from go_batch_processor_spark.operators.ml import (
    KMEANS_ITERS,
    KMEANS_K,
    MG_COUNTERS,
    _as_double,
    _mg_reduce,
    kmeans_lloyd,
    mg_candidates,
)
from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _numpy_lloyd(X: np.ndarray, ids: np.ndarray, k: int, iters: int):
    """The identical algorithm in numpy: seed with the k lowest ids, assign
    by squared euclidean with min-index tiebreak, mean-update, empty
    clusters keep their centroid."""
    order = np.argsort(ids)
    cent = X[order[:k]].copy()
    for _ in range(iters + 1):  # final pass = assignment under last centroids
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the lowest index on ties
        if _ == iters:
            break
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    return assign


def test_kmeans_matches_numpy_twin(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    assigned, _ = kmeans_lloyd(emb)
    got = {
        r["vec_id"]: r["cluster"]
        for r in assigned.select("vec_id", "cluster").collect()
    }

    pdf = emb.toPandas()
    X = np.array([np.array(v, dtype=np.float64) for v in pdf["vec"]])
    ids = pdf["vec_id"].to_numpy()
    want = _numpy_lloyd(X, ids, KMEANS_K, KMEANS_ITERS)
    mismatches = sum(
        1 for i, vid in enumerate(ids) if got[vid] != want[i]
    )
    # Spark's avg and numpy's mean sum in different orders; identical
    # assignments are expected unless a point sits within float-noise of a
    # cluster boundary (never the case for the random fixture vectors).
    assert mismatches == 0


def test_kmeans_registry_output_shape(spark, sf_dir):
    df = REGISTRY["ml_kmeans_lloyd"].fn(spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= KMEANS_K
    assert sum(r["n"] for r in rows) == load_table(
        spark, sf_dir, "embeddings"
    ).count()
    for r in rows:
        assert r["inertia"] >= 0.0


def test_mg_reduce_budget_and_guarantee():
    rng = np.random.default_rng(7)
    # 50k-key zipf stream: cardinality far beyond the counter budget.
    stream = rng.zipf(1.3, size=200_000) % 50_000
    counters: dict = {}
    for chunk in np.array_split(stream, 20):
        for k, v in pd.Series(chunk).value_counts().items():
            counters[k] = counters.get(k, 0) + int(v)
        counters = _mg_reduce(counters, MG_COUNTERS)
    assert len(counters) <= MG_COUNTERS
    true_counts = pd.Series(stream).value_counts()
    threshold = len(stream) / MG_COUNTERS
    heavy = set(true_counts[true_counts > threshold].index)
    assert heavy, "zipf stream should have heavy keys"
    assert heavy <= set(counters), "MG summary must be a superset of HH"


def test_mg_candidates_superset_on_fixture(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").repartition(4)
    cands = {r["user_id"] for r in mg_candidates(ev, "user_id").collect()}
    counts = ev.groupBy("user_id").count().collect()
    total = sum(r["count"] for r in counts)
    heavy = {
        r["user_id"] for r in counts if r["count"] > total / MG_COUNTERS
    }
    assert heavy <= cands


def test_heavy_hitters_exact(spark, sf_dir):
    got = {
        (r["user_id"], r["n"])
        for r in REGISTRY["agg_heavy_hitters"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    want = {
        (r["user_id"], r["count"])
        for r in ev.groupBy("user_id").count().collect()
        if r["count"] * 150 > total
    }
    assert got == want


def test_cms_estimates_bounded_and_superset(spark, sf_dir):
    """CMS guarantees on the fixture: every estimate over-counts (est >=
    true) and the overshoot is bounded by the classic eps*N with
    eps = CMS_D / CMS_W slack (deterministic fixture, generous bound)."""
    from go_batch_processor_spark.operators.ml import (
        CMS_W,
        cms_estimate,
        cms_sketch,
        mg_candidates,
    )

    ev = load_table(spark, sf_dir, "events").repartition(4)
    true_counts = {
        r["user_id"]: r["count"] for r in ev.groupBy("user_id").count().collect()
    }
    n_total = sum(true_counts.values())
    cands = mg_candidates(ev, "user_id")
    est = {
        r["user_id"]: r["est_n"]
        for r in cms_estimate(cands, cms_sketch(ev, "user_id"), "user_id").collect()
    }
    assert est, "candidates should not be empty"
    bound = max(4, 4 * n_total // CMS_W)
    for uid, e in est.items():
        t = true_counts.get(uid, 0)
        assert e >= t, (uid, e, t)
        assert e - t <= bound, (uid, e, t, bound)


def test_cms_topk_registry_agrees_with_exact_topk(spark, sf_dir):
    """The reported top-k keys must be genuinely hot: compare against the
    exact top-k by true count — sketch noise may reorder near-ties, so
    assert set overlap on a safety margin, not exact order."""
    from go_batch_processor_spark.operators.ml import CMS_TOPK

    got = REGISTRY["agg_count_min_topk"].fn(spark, sf_dir).collect()
    assert 0 < len(got) <= CMS_TOPK
    ev = load_table(spark, sf_dir, "events")
    exact = [
        r["user_id"]
        for r in ev.groupBy("user_id")
        .count()
        .orderBy(F.col("count").desc(), F.col("user_id"))
        .limit(CMS_TOPK)
        .collect()
    ]
    got_ids = {r["user_id"] for r in got}
    # every reported key is an MG candidate with an over-counting estimate;
    # require that at least half the true top-k is recovered (fixture has
    # clear heavy keys, so in practice this is far exceeded)
    assert len(got_ids & set(exact)) >= len(exact) // 2


def test_kmeans_parallel_init_beats_naive_and_is_deterministic(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import (
        _as_double,
        kmeans_parallel_init,
    )
    from go_batch_processor_spark.registry import REGISTRY

    row = REGISTRY["ml_kmeans_pp_init"].fn(spark, sf_dir).collect()[0]
    assert row.n_seeds == row.k
    assert row.improved, row  # k-means|| seeds beat lowest-id seeds here
    assert row.seeded_inertia < row.naive_inertia

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    s1 = kmeans_parallel_init(emb)
    s2 = kmeans_parallel_init(emb)
    assert s1 == s2  # md5-uniform draws + farthest-first: fully deterministic


def test_ols_matches_numpy_lstsq(spark, sf_dir):
    """The sufficient-statistics OLS must reproduce numpy lstsq's
    coefficients and R^2 on the same rows."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import OLS_FEATURES

    got = {
        r.term: r.value
        for r in REGISTRY["ml_ols_normal_equations"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_extendedprice", *OLS_FEATURES)
        .toPandas()
    )
    X = np.column_stack(
        [np.ones(len(pdf))] + [pdf[c].to_numpy() for c in OLS_FEATURES]
    )
    yv = pdf["l_extendedprice"].to_numpy()
    b, *_ = np.linalg.lstsq(X, yv, rcond=None)
    resid = yv - X @ b
    r2 = 1 - (resid @ resid) / ((yv - yv.mean()) @ (yv - yv.mean()))
    for t, c in zip(["intercept", *OLS_FEATURES], b):
        assert abs(got[t] - c) < 1e-4, (t, got[t], c)
    assert abs(got["r2"] - r2) < 1e-6


def test_pca_matches_numpy_eigh(spark, sf_dir):
    """One-pass covariance PCA must reproduce numpy's eigendecomposition
    of the same rows' covariance matrix."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import PCA_TOP

    got = {
        r.component: (r.eigenvalue, r.explained_var)
        for r in REGISTRY["ml_pca_covariance"].fn(spark, sf_dir).collect()
    }
    pdf = load_table(spark, sf_dir, "embeddings").select("embedding").toPandas()
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    cov = np.cov(X, rowvar=False, ddof=1)
    evals = np.linalg.eigh(cov)[0][::-1]
    ratio = evals / evals.sum()
    assert len(got) == PCA_TOP
    for i in range(PCA_TOP):
        assert abs(got[i + 1][0] - evals[i]) < 1e-4, (i, got[i + 1], evals[i])
        assert abs(got[i + 1][1] - ratio[i]) < 1e-6


def test_logreg_matches_numpy_irls(spark, sf_dir):
    """The codegen-aggregate IRLS must land on the same coefficients as a
    numpy Newton solver run for the same iterations on the same rows."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import (
        LOGREG_FEATURES,
        LOGREG_ITERS,
    )

    got = {
        r.term: r.value
        for r in REGISTRY["ml_logreg_irls"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", *LOGREG_FEATURES)
        .toPandas()
    )
    X = np.column_stack(
        [np.ones(len(pdf))] + [pdf[c].to_numpy() for c in LOGREG_FEATURES]
    )
    yv = (pdf["l_returnflag"] == "R").to_numpy(dtype=np.float64)
    beta = np.zeros(X.shape[1])
    for _ in range(LOGREG_ITERS):
        p = 1.0 / (1.0 + np.exp(-X @ beta))
        g = X.T @ (yv - p)
        H = (X * (p * (1 - p))[:, None]).T @ X
        beta = beta + np.linalg.solve(H, g)
    p = 1.0 / (1.0 + np.exp(-X @ beta))
    ll = -np.mean(yv * np.log(p) + (1 - yv) * np.log(1 - p))
    for t, c in zip(["intercept", *LOGREG_FEATURES], beta):
        assert abs(got[t] - c) < 1e-5, (t, got[t], c)
    assert abs(got["log_loss"] - ll) < 1e-6
    # sanity: the model actually separates something (loss under ln 2)
    assert got["log_loss"] < 0.6931


def _scalar_irls_twin(raw):
    """The scalar IRLS fold _irls_fold replaced, kept as its exactness
    twin: Python tuple order, one float accumulator per sum, math.exp
    and math.log per cell."""
    import math

    from go_batch_processor_spark.operators.ml import (
        LOGREG_ITERS,
        _eval_stages,
        _logreg_cramer_stages,
    )

    cells = [
        (u1 / 100.0, u2 / 100.0, u3 / 100.0, float(y), cnt)
        for u1, u2, u3, y, cnt in sorted(raw)
    ]
    n = sum(c[4] for c in cells)
    beta = [0.0, 0.0, 0.0, 0.0]
    stages = _logreg_cramer_stages()
    exp = math.exp
    for _ in range(LOGREG_ITERS):
        g0 = g1 = g2 = g3 = 0.0
        h00 = h01 = h02 = h03 = 0.0
        h11 = h12 = h13 = h22 = h23 = h33 = 0.0
        b0, b1, b2, b3 = beta
        for x1, x2, x3, yd, cnt in cells:
            xb = ((b0 + b1 * x1) + b2 * x2) + b3 * x3
            p = 1.0 / (1.0 + exp(-xb))
            w = p * (1.0 - p)
            r = yd - p
            g0 += cnt * (1.0 * r)
            h00 += cnt * ((w * 1.0) * 1.0)
            h01 += cnt * ((w * 1.0) * x1)
            h02 += cnt * ((w * 1.0) * x2)
            h03 += cnt * ((w * 1.0) * x3)
            g1 += cnt * (x1 * r)
            h11 += cnt * ((w * x1) * x1)
            h12 += cnt * ((w * x1) * x2)
            h13 += cnt * ((w * x1) * x3)
            g2 += cnt * (x2 * r)
            h22 += cnt * ((w * x2) * x2)
            h23 += cnt * ((w * x2) * x3)
            g3 += cnt * (x3 * r)
            h33 += cnt * ((w * x3) * x3)
        ns = {
            "g_0": g0, "g_1": g1, "g_2": g2, "g_3": g3,
            "h_0_0": h00, "h_0_1": h01, "h_0_2": h02, "h_0_3": h03,
            "h_1_1": h11, "h_1_2": h12, "h_1_3": h13,
            "h_2_2": h22, "h_2_3": h23, "h_3_3": h33,
        }
        ns = _eval_stages(stages, ns)
        for k in range(4):
            beta[k] = beta[k] + ns[f"b{k}"]
    acc = 0.0
    for x1, x2, x3, yd, cnt in cells:
        xb = ((beta[0] + beta[1] * x1) + beta[2] * x2) + beta[3] * x3
        p = 1.0 / (1.0 + math.exp(-xb))
        acc += cnt * (-(yd * math.log(p) + (1.0 - yd) * math.log(1.0 - p)))
    return beta, acc / n


def _random_cells(seed: int, huge_counts: bool = False):
    """Distinct (u1, u2, u3, y, cnt) cells on lineitem-like grids, in
    random order. With huge_counts the counts sit just below 2^40 and
    the smallest cell is (0, 0, .., y=0), whose gradient terms for
    quantity and discount are 0.0 * (0 - p) = -0.0: the folds start
    with a negative zero."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(20, 3000))
    keys = {
        (int(rng.integers(100, 5001)), int(rng.integers(0, 11)),
         int(rng.integers(0, 9)), int(rng.integers(0, 2)))
        for _ in range(n)
    }
    if huge_counts:
        keys.add((0, 0, 3, 0))
    lo, hi = (2**40 - 2**20, 2**40) if huge_counts else (1, 500)
    cells = [(*k, int(rng.integers(lo, hi))) for k in keys]
    rng.shuffle(cells)
    return cells


@pytest.mark.parametrize(
    "seed,huge", [(s, False) for s in range(12)] + [(100, True), (101, True)]
)
def test_irls_fold_is_bit_identical_to_scalar_twin(seed, huge):
    """_irls_fold (lexsort, element-wise terms, sequential cumsum folds,
    math.exp/math.log) against the scalar loop: betas and log-loss are
    hex-equal before the floor rounding, whatever order the cells come
    in."""
    from go_batch_processor_spark.operators.ml import _irls_fold

    cells = _random_cells(seed, huge)
    if huge:
        first = sorted(cells)[0]
        assert (first[0], first[1], first[3]) == (0, 0, 0)
    beta, ll = _irls_fold(*(np.array(c, dtype=np.int64) for c in zip(*cells)))
    want_beta, want_ll = _scalar_irls_twin(cells)
    assert [b.hex() for b in beta] == [b.hex() for b in want_beta]
    assert ll.hex() == want_ll.hex()


def test_seq_sum_is_the_left_fold_from_zero():
    """_seq_sum keeps the scalar fold's rounding and its sign of zero,
    where pairwise np.sum differs."""
    from go_batch_processor_spark.operators.ml import _seq_sum

    def fold(a):
        acc = 0.0
        for t in a:
            acc += t
        return acc

    rng = np.random.default_rng(7)
    a = rng.standard_normal(4096) * 10.0 ** rng.integers(-8, 8, 4096)
    assert _seq_sum(a).hex() == fold(a.tolist()).hex()
    assert np.sum(a).hex() != fold(a.tolist()).hex()
    assert _seq_sum(np.array([-0.0, -0.0])).hex() == fold([-0.0, -0.0]).hex() == "0x0.0p+0"


def test_gmm_matches_numpy_em(spark, sf_dir):
    """The fused-E/M Arrow pass must reproduce a numpy EM with identical
    init and iterations (weights, means, variances, mean log-lik)."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import (
        GMM_ITERS,
        GMM_K,
        GMM_VAR_FLOOR,
    )

    rows = REGISTRY["ml_gmm_em"].fn(spark, sf_dir).collect()
    got = {r.cluster: (r.weight, r.mu0, r.mu1, r.var0) for r in rows}

    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    mu = X[:GMM_K].copy()
    k, d = mu.shape
    var = np.ones((k, d))
    w = np.full(k, 1.0 / k)
    for _ in range(GMM_ITERS):
        lp = -0.5 * (
            ((X[:, None, :] - mu[None, :, :]) ** 2 / var).sum(2)
            + np.log(2 * np.pi * var).sum(1)[None, :]
        ) + np.log(w)[None, :]
        m = lp.max(axis=1, keepdims=True)
        lse = m[:, 0] + np.log(np.exp(lp - m).sum(axis=1))
        r = np.exp(lp - lse[:, None])
        sr = r.sum(axis=0)
        ll = lse.mean()
        w = sr / len(X)
        mu = (r.T @ X) / sr[:, None]
        var = np.maximum((r.T @ (X * X)) / sr[:, None] - mu**2, GMM_VAR_FLOOR)
    for c in range(k):
        gw, gm0, gm1, gv0 = got[c]
        assert abs(gw - w[c]) < 1e-5
        assert abs(gm0 - mu[c, 0]) < 1e-5
        assert abs(gm1 - mu[c, 1]) < 1e-5
        assert abs(gv0 - var[c, 0]) < 1e-5
    assert abs(got[-1][0] - ll) < 1e-5
    # weights form a distribution
    assert abs(sum(v[0] for c, v in got.items() if c >= 0) - 1.0) < 1e-4


def test_naive_bayes_langid_beats_prior_and_is_calibrated(spark, sf_dir):
    """The NB language classifier must (a) classify every doc, (b) beat the
    majority-class prior by a wide margin on the synthetic corpus (each
    lang has its own vocabulary head), and (c) emit finite negative
    log-scores."""
    out = REGISTRY["ml_naive_bayes_langid"].fn(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    assert len(out) == len(docs)
    majority = docs["lang"].value_counts(normalize=True).max()
    acc = out["correct"].mean()
    # The synthetic corpus shares ONE vocabulary across all langs (every
    # token occurs in all 5), so NB can only exploit frequency profiles:
    # the bar is beating the majority-class prior, not absolute accuracy.
    assert acc > majority, (acc, majority)
    assert np.isfinite(out["score"]).all()
    assert (out["score"] < 0).all()


def _numpy_mmr(ids, rels, vecs, lam, k):
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vecs @ vecs.T
    picked, remaining = [], list(range(len(ids)))
    while remaining and len(picked) < k:
        pen = (
            sims[np.ix_(remaining, picked)].max(axis=1)
            if picked
            else np.zeros(len(remaining))
        )
        scores = lam * rels[remaining] - (1 - lam) * pen
        j = min(range(len(remaining)), key=lambda j: (-scores[j], ids[remaining[j]]))
        picked.append(remaining.pop(j))
    return [ids[i] for i in picked]


def test_mmr_matches_numpy_twin_and_diversifies(spark, sf_dir):
    from go_batch_processor_spark.operators.similarity import (
        MMR_CANDIDATES,
        MMR_K,
        MMR_LAMBDA,
        PROBE_VEC_ID,
        _as_double as _sim_as_double,
        _dot,
        _norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == PROBE_VEC_ID)
    e = emb.select("vec_id", _sim_as_double(F.col("embedding")).alias("emb"))
    p = probe.select(
        F.col("vec_id").alias("probe_id"),
        _sim_as_double(F.col("embedding")).alias("pemb"),
    )
    rel = _dot(F.col("emb"), F.col("pemb")) / (
        _norm(F.col("emb")) * _norm(F.col("pemb"))
    )
    cands = (
        e.crossJoin(F.broadcast(p))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("vec_id", rel.alias("rel"), "emb")
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(MMR_CANDIDATES)
        .collect()
    )
    ids = [r.vec_id for r in cands]
    rels = np.array([r.rel for r in cands])
    vecs = np.array([r.emb for r in cands])
    expect = _numpy_mmr(ids, rels, vecs, MMR_LAMBDA, MMR_K)

    out = REGISTRY["similarity_mmr_diversify"].fn(spark, sf_dir).toPandas()
    got = out.sort_values("mmr_rank")["vec_id"].tolist()
    assert got == expect
    # rank 1 is the pure-relevance argmax; later picks trade relevance for
    # diversity, so MMR must NOT equal the plain top-k whenever the top-k
    # contains near-duplicates — at minimum the output is k distinct ids.
    assert len(set(got)) == MMR_K
    assert got[0] == ids[0]


def test_gbdt_stumps_matches_numpy_twin(spark, sf_dir):
    from go_batch_processor_spark.operators.ml import (
        GBDT_FEATURES,
        GBDT_LR,
        GBDT_N_THRESH,
        GBDT_ROUNDS,
    )

    pdf = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("y"), *GBDT_FEATURES
    ).toPandas()
    y = pdf["y"].to_numpy()
    qs = [100 * i / (GBDT_N_THRESH + 1) for i in range(1, GBDT_N_THRESH + 1)]
    cands = [
        (f, round(float(t), 6))
        for f in GBDT_FEATURES
        for t in sorted({float(x) for x in np.percentile(pdf[f].to_numpy(), qs)})
    ]
    pred = np.full(len(y), y.mean())
    expect = []
    for _ in range(GBDT_ROUNDS):
        r = y - pred
        s, n = r.sum(), len(r)
        best = None
        for feat, thr in cands:
            left = pdf[feat].to_numpy() <= thr
            nl = int(left.sum())
            nr = n - nl
            if nl == 0 or nr == 0:
                continue
            sl = r[left].sum()
            sr = s - sl
            gain = sl * sl / nl + sr * sr / nr - s * s / n
            key = (-gain, feat, thr)
            if best is None or key < best[0]:
                best = (key, feat, thr, GBDT_LR * sl / nl, GBDT_LR * (s - sl) / nr)
        _, feat, thr, wl, wr = best
        expect.append((feat, thr, wl, wr))
        left = pdf[feat].to_numpy() <= thr
        pred = pred + np.where(left, wl, wr)
    mse = float(((y - pred) ** 2).mean())

    out = REGISTRY["ml_gbdt_stumps"].fn(spark, sf_dir).toPandas()
    got = out[(out["round"] > 0)].sort_values("round")
    assert list(got["feature"]) == [e[0] for e in expect]
    assert list(got["threshold"]) == pytest.approx([e[1] for e in expect], abs=1e-6)
    assert list(got["w_left"]) == pytest.approx([e[2] for e in expect], rel=1e-5)
    assert list(got["w_right"]) == pytest.approx([e[3] for e in expect], rel=1e-5)
    f0 = float(out[out["feature"] == "__f0__"]["threshold"].iloc[0])
    assert f0 == pytest.approx(y.mean(), rel=1e-9)
    got_mse = float(out[out["feature"] == "__mse__"]["threshold"].iloc[0])
    assert got_mse == pytest.approx(mse, rel=1e-6)
    # boosting must actually reduce training error vs the constant model
    assert got_mse < ((y - y.mean()) ** 2).mean()


def test_als_matches_numpy_twin(spark, sf_dir):
    from go_batch_processor_spark.operators.ml import (
        ALS_F,
        ALS_REG,
        ALS_SWEEPS,
        _als_init_factor,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.get_json_object("props", "$.k").cast("long").alias("i"),
        F.col("value").alias("r"),
    ).filter(F.col("i").isNotNull())
    ratings = (
        ev.groupBy("u", "i").agg(F.avg("r").alias("r")).toPandas()
    )
    users = sorted(ratings["u"].unique())
    items = sorted(ratings["i"].unique())
    V = {int(i): np.array(_als_init_factor(int(i))) for i in items}
    U: dict = {}

    def solve_side(group_key, other_key, fixed):
        out = {}
        for gid, grp in ratings.groupby(group_key):
            Vm = np.array([fixed[int(o)] for o in grp[other_key]])
            r = grp["r"].to_numpy()
            A = Vm.T @ Vm + ALS_REG * len(r) * np.eye(ALS_F)
            out[int(gid)] = np.linalg.solve(A, Vm.T @ r)
        return out

    for _ in range(ALS_SWEEPS):
        U = solve_side("u", "i", V)
        V = solve_side("i", "u", U)
    preds = np.array(
        [U[int(u)] @ V[int(i)] for u, i in zip(ratings["u"], ratings["i"])]
    )
    rmse = float(np.sqrt(((ratings["r"].to_numpy() - preds) ** 2).mean()))

    out = REGISTRY["ml_als_factorize"].fn(spark, sf_dir).toPandas()
    got_rmse = float(out[out["side"] == "__rmse__"]["f0"].iloc[0])
    assert got_rmse == pytest.approx(rmse, rel=1e-6)
    # factorization must beat the global-mean baseline on training RMSE
    base = float(ratings["r"].std(ddof=0))
    assert got_rmse < base
    # spot-check factor vectors on both sides
    gu = out[out["side"] == "user"].set_index("id")
    for u in users[:5]:
        assert gu.loc[u, "f0"] == pytest.approx(round(U[int(u)][0], 6), abs=2e-6)
    gv = out[out["side"] == "item"].set_index("id")
    for i in items[:5]:
        assert gv.loc[i, "f0"] == pytest.approx(round(V[int(i)][0], 6), abs=2e-6)


def test_ridge_matches_numpy_and_shrinks(spark, sf_dir):
    """Closed-form ridge must equal a direct numpy ridge solve on
    centered data, leave the intercept unpenalized, and shrink the
    coefficient L2 norm relative to OLS."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import OLS_FEATURES, RIDGE_LAMBDA

    got = {
        r.term: r.value
        for r in REGISTRY["ml_ridge_closed_form"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_extendedprice", *OLS_FEATURES)
        .toPandas()
    )
    X = np.column_stack([pdf[c].to_numpy() for c in OLS_FEATURES])
    yv = pdf["l_extendedprice"].to_numpy()
    Xc = X - X.mean(axis=0)
    yc = yv - yv.mean()
    b = np.linalg.solve(Xc.T @ Xc + RIDGE_LAMBDA * np.eye(X.shape[1]), Xc.T @ yc)
    intercept = yv.mean() - b @ X.mean(axis=0)
    for t, c in zip(OLS_FEATURES, b):
        assert abs(got[t] - c) < 1e-4, (t, got[t], c)
    assert abs(got["intercept"] - intercept) < 1e-3
    ols = {
        r.term: r.value
        for r in REGISTRY["ml_ols_normal_equations"].fn(spark, sf_dir).collect()
    }
    ridge_norm = sum(got[t] ** 2 for t in OLS_FEATURES)
    ols_norm = sum(ols[t] ** 2 for t in OLS_FEATURES)
    assert ridge_norm <= ols_norm + 1e-9


def test_isotonic_pava_properties_and_reference(spark, sf_dir):
    """Fit must be non-decreasing in x per group, preserve the weighted
    mean, and equal an independent quadratic-time reference PAVA."""
    import numpy as np
    import pandas as pd

    got = REGISTRY["ml_isotonic_pava"].fn(spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    for flag, g in got.groupby("l_returnflag"):
        g = g.sort_values("l_quantity").reset_index(drop=True)
        assert (np.diff(g["fitted"]) >= -1e-9).all(), flag
        sub = li[li.l_returnflag == flag]
        pts = (
            sub.groupby("l_quantity")["l_extendedprice"]
            .agg(["mean", "count"])
            .sort_index()
        )
        # weighted-mean preservation
        assert abs(
            (g["fitted"] * g["n"]).sum() - (pts["mean"] * pts["count"]).sum()
        ) < 1e-3 * abs((pts["mean"] * pts["count"]).sum())
        # reference: the exact minimax characterization of isotonic
        # regression, y_hat_i = max_{j<=i} min_{k>=i} wmean(y[j..k]) —
        # independent of any pooling implementation (O(n^2) via prefix sums)
        y = pts["mean"].to_numpy()
        w = pts["count"].to_numpy().astype(float)
        cwy = np.concatenate([[0.0], np.cumsum(y * w)])
        cw = np.concatenate([[0.0], np.cumsum(w)])

        def wmean(j, k):  # inclusive ends
            return (cwy[k + 1] - cwy[j]) / (cw[k + 1] - cw[j])

        n = len(y)
        ref = np.empty(n)
        for i in range(n):
            ref[i] = max(
                min(wmean(j, k) for k in range(i, n)) for j in range(i + 1)
            )
        np.testing.assert_allclose(g["fitted"].to_numpy(), ref, atol=1e-4)


def test_frequent_directions_spectral_guarantee(spark, sf_dir):
    """FD sketch must satisfy ||A'A - B'B||_2 <= ||A||_F^2 / (l/2) and
    its top singular values must upper-... lower-bound the exact ones
    within that same additive energy error."""
    import numpy as np
    import pandas as pd

    from go_batch_processor_spark.operators.ml import FD_SKETCH_L, _fd_shrink

    got = REGISTRY["ml_frequent_directions"].fn(spark, sf_dir).toPandas()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    A = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    bound = (A**2).sum() / (FD_SKETCH_L / 2)
    exact_s2 = np.sort(np.linalg.svd(A, compute_uv=False) ** 2)[::-1]
    got_s2 = np.sort(got["singular_value"].to_numpy() ** 2)[::-1]
    for i in range(len(got_s2)):
        # per-direction energy: sketch never overestimates, and
        # underestimates by at most the FD bound
        assert got_s2[i] <= exact_s2[i] + 1e-6
        assert exact_s2[i] - got_s2[i] <= bound + 1e-6
    # reference single-pass FD on the full matrix obeys the same bound
    B = _fd_shrink(A, FD_SKETCH_L)
    diff = A.T @ A - B.T @ B
    assert np.linalg.norm(diff, 2) <= bound + 1e-6


def test_isolation_forest_isolates_manufactured_outlier():
    """Property tests on the iForest helpers (a same-code twin would be
    circular): a far outlier in a tight cluster must receive the top
    score, scores stay in (0, 1], and the build is deterministic."""
    import numpy as np

    from go_batch_processor_spark.operators.ml import (
        _iforest_build,
        _iforest_score_pdf,
    )

    rng = np.random.RandomState(7)
    cluster = rng.normal(0.0, 1.0, size=(300, 3))
    outlier = np.array([[25.0, -30.0, 40.0]])
    data = np.vstack([cluster, outlier])
    trees = _iforest_build(data, n_trees=50, psi=128, seed=42)
    scores = _iforest_score_pdf(data, trees, 128)
    assert 0.0 < scores.min() and scores.max() <= 1.0
    assert int(np.argmax(scores)) == 300  # the planted outlier wins
    # outlier separates clearly from the cluster's typical score
    assert scores[300] > np.percentile(scores[:300], 99)
    # determinism: same seed -> identical forest and scores
    trees2 = _iforest_build(data, n_trees=50, psi=128, seed=42)
    scores2 = _iforest_score_pdf(data, trees2, 128)
    assert np.array_equal(scores, scores2)


def test_isolation_forest_query_shape(spark, sf_dir):
    from go_batch_processor_spark.operators.ml import IFOREST_TOP_K

    rows = REGISTRY["ml_isolation_forest"].fn(spark, sf_dir).collect()
    assert len(rows) == IFOREST_TOP_K
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 < s <= 1.0 for s in scores)
    # rerun is bit-identical (hash-ordered sample + seeded forest)
    rows2 = REGISTRY["ml_isolation_forest"].fn(spark, sf_dir).collect()
    assert rows == rows2



def test_linear_svm_matches_numpy_gd(spark, sf_dir):
    """The codegen-aggregate batch subgradient descent must land on the
    same coefficients and objective as a numpy twin with identical init,
    schedule, and iteration count."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import (
        SVM_ETA0,
        SVM_FEATURES,
        SVM_ITERS,
        SVM_LAMBDA,
        SVM_QTY_SCALE,
    )

    got = {
        r.term: r.value
        for r in REGISTRY["ml_linear_svm_gd"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", *SVM_FEATURES)
        .toPandas()
    )
    X = np.column_stack(
        [
            np.ones(len(pdf)),
            pdf["l_quantity"].to_numpy() / SVM_QTY_SCALE,
            pdf["l_discount"].to_numpy(),
            pdf["l_tax"].to_numpy(),
        ]
    )
    yv = np.where(pdf["l_returnflag"] == "R", 1.0, -1.0)
    n, d = X.shape
    beta = np.zeros(d)
    for t in range(1, SVM_ITERS + 1):
        viol = yv * (X @ beta) < 1.0
        ghat = (X[viol] * yv[viol][:, None]).sum(axis=0) / n
        grad = -ghat
        grad[1:] += SVM_LAMBDA * beta[1:]
        beta = beta - (SVM_ETA0 / t) * grad
    hinge = np.maximum(0.0, 1.0 - yv * (X @ beta)).mean()
    obj = hinge + 0.5 * SVM_LAMBDA * float(beta[1:] @ beta[1:])
    terms = ["intercept", "l_quantity_scaled", "l_discount", "l_tax"]
    for t_, c in zip(terms, beta):
        assert abs(got[t_] - c) < 1e-5, (t_, got[t_], c)
    assert abs(got["objective"] - obj) < 1e-5
    # sanity: the fitted model beats the zero vector (hinge(0) = 1)
    assert got["objective"] < 1.0


def test_decision_tree_depth2_matches_numpy(spark, sf_dir):
    """Every split (feature, threshold, gini) and every leaf's counts
    must match an exhaustive numpy search with the same tie-break."""
    import numpy as np

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.operators.ml import TREE_FEATURES

    rows = {
        int(r.node): r
        for r in REGISTRY["ml_decision_tree_depth2"].fn(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", *TREE_FEATURES)
        .toPandas()
    )
    y = (pdf["l_returnflag"] == "R").to_numpy(dtype=np.int64)
    X = {f: pdf[f].to_numpy(dtype=np.float64) for f in TREE_FEATURES}

    def best_split(mask):
        best = None
        for f in TREE_FEATURES:
            xs = X[f][mask]
            ys = y[mask]
            tot_n, tot_p = len(ys), int(ys.sum())
            vals = np.unique(xs)
            ln = lp = 0
            for v in vals[:-1]:
                sel = xs == v
                ln += int(sel.sum())
                lp += int(ys[sel].sum())
                rn, rp = tot_n - ln, tot_p - lp
                if ln == 0 or rn == 0:
                    continue
                gl = 1.0 - (lp / ln) ** 2 - ((ln - lp) / ln) ** 2
                gr = 1.0 - (rp / rn) ** 2 - ((rn - rp) / rn) ** 2
                g = (ln * gl + rn * gr) / tot_n
                cand = (g, f, float(v))
                if best is None or cand < best:
                    best = cand
        return best

    all_mask = np.ones(len(y), dtype=bool)
    g0, f0, t0 = best_split(all_mask)
    assert rows[0].feature == f0
    assert rows[0].threshold == round(t0, 6)
    assert rows[0].score == round(g0, 6)
    left = X[f0] <= t0
    for node, mask in ((1, left), (2, ~left)):
        g, f, t = best_split(mask)
        assert rows[node].feature == f, node
        assert rows[node].threshold == round(t, 6), node
        assert rows[node].score == round(g, 6), node
    g1, f1, t1 = best_split(left)
    g2, f2, t2 = best_split(~left)
    leaf_masks = {
        3: left & (X[f1] <= t1),
        4: left & (X[f1] > t1),
        5: (~left) & (X[f2] <= t2),
        6: (~left) & (X[f2] > t2),
    }
    for leaf, mask in leaf_masks.items():
        n, p = int(mask.sum()), int(y[mask].sum())
        assert rows[leaf].kind == "leaf"
        expected_pred = "R" if 2 * p > n else "other"
        assert rows[leaf].prediction == expected_pred, leaf
        if n:
            assert rows[leaf].score == round(p / n, 6), leaf
