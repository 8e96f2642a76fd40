"""Distributed ML primitives over the ``embeddings`` / ``events`` tables
(extension inventory — the reference has no ML surface,
/root/reference/batch_processor.go:10-28; these are the two iterative /
sketch shapes a training-data pipeline runs at corpus scale).

  ml_kmeans_lloyd    — Lloyd's k-means: per-iteration assign (broadcast
                       centroid literals, JVM-side argmin) + recompute
                       (posexplode -> per-dim avg). Iterative, rows-only;
                       numpy twin asserted in tests/test_ml.py.
  agg_heavy_hitters  — EXACT phi-heavy-hitters via the two-pass
                       Misra-Gries pattern: bounded-memory per-partition
                       candidate sketches (mergeable-summaries reduction),
                       then an exact recount of the candidate set only.
                       Result is exact, so it carries a full DuckDB oracle.

Scale notes: k-means per iteration = one scan + one O(k x dim) shuffle;
centroids (k x dim doubles) are the only driver-side state — the same
bounded-collect pattern MLlib uses. Heavy hitters never shuffles the raw
key stream: pass 1 reduces each partition to <= MG_COUNTERS candidate keys
in memory regardless of key cardinality; pass 2 recounts only candidates
(broadcast semi-join), so the full-key groupBy that would dominate at
100 TB of high-cardinality keys is avoided entirely.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_batch_processor_spark.catalog import load_table, local_frame
from go_batch_processor_spark.registry import register


def _spread_ml(df: DataFrame) -> DataFrame:
    """Rebalance a narrow projection BEFORE persisting it for an
    iterative solver (r9, measured): the row-group-bound fixture scan
    caches as 1-2 partitions, so every per-iteration aggregate job runs
    at parallelism 2 no matter the core count — iteration LATENCY, not
    arithmetic, dominates (ml_quantile_regression 15.5 -> ~3 s at
    sf0.1). One extra narrow shuffle once, paid back every iteration;
    at cluster scale the repartition tracks defaultParallelism."""
    from go_batch_processor_spark.spread import _spread

    return _spread(df)


KMEANS_K = 8
KMEANS_ITERS = 5

HH_K = 150  # heavy hitter = key with count * HH_K > total rows
MG_COUNTERS = 512  # per-partition counter budget (must be >= HH_K)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _sqdist(vec: Column, centroid: list[float]) -> Column:
    """Squared euclidean distance to a literal centroid, folded JVM-side."""
    lit = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach ``cluster`` / ``dist2`` = argmin over centroid literals.

    The argmin is an array_min over (dist, idx) structs — lexicographic
    struct ordering gives min-distance with deterministic min-index
    tiebreak, all inside whole-stage codegen (no shuffle, no Python).
    """
    cands = F.array(
        *[
            F.struct(_sqdist(F.col("vec"), c).alias("d"), F.lit(j).alias("c"))
            for j, c in enumerate(centroids)
        ]
    )
    best = F.array_min(cands)
    return emb.withColumn("_best", best).select(
        "*", F.col("_best.c").alias("cluster"), F.col("_best.d").alias("dist2")
    ).drop("_best")


def _lloyd_partials(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One Lloyd step's sufficient statistics as (cluster, pos, s, n) rows.

    A vectorized Arrow kernel assigns each batch with one numpy broadcast
    (``((X[:,None,:]-C)**2).sum(2).argmin(1)`` — identical arithmetic and
    min-index tiebreak to the numpy twin in tests/test_ml.py) and folds the
    batch into per-partition per-cluster (sum-vector, count) partials.
    Each task emits at most k rows regardless of row count, so the stage
    is embarrassingly parallel with zero raw-row shuffle; the caller's
    k x dim aggregation over the partials is the only exchange.

    Dense 64-dim linear algebra is the one hot path where the Arrow+numpy
    kernel beats whole-stage codegen: the HOF-fold argmin evaluates
    8 zip_with/aggregate chains per ROW, while the kernel is one BLAS-ish
    matmul-shaped pass per BATCH. Measured at sf0.1/local[32]:
    0.78 s/iteration (codegen argmin + posexplode agg) -> 0.22 s/iteration.
    """
    import numpy as np

    cent = [list(map(float, c)) for c in centroids]
    k = len(cent)

    def step(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = np.array(cent, dtype=np.float64)
        sums = np.zeros_like(C)
        counts = np.zeros(k, dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in range(k):
                pts = X[assign == c]
                if len(pts):
                    sums[c] += pts.sum(axis=0)
                    counts[c] += len(pts)
        live = [c for c in range(k) if counts[c]]
        yield pd.DataFrame(
            {
                "cluster": np.repeat(live, C.shape[1]),
                "pos": np.tile(np.arange(C.shape[1]), len(live)),
                "s": np.concatenate([sums[c] for c in live]) if live else [],
                "n": np.repeat(counts[live], C.shape[1]) if live else [],
            }
        )

    return emb.select("vec").mapInPandas(
        step, "cluster int, pos int, s double, n long"
    )


def kmeans_lloyd(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd iterations over a (vec_id, vec: array<double>) frame.

    Init is deterministic: the k lowest vec_ids seed the centroids.
    The input is persisted ONCE (MEMORY_AND_DISK) and every iteration
    reads the cached blocks — MLlib's own pattern; without it each of the
    iters+1 actions re-scans the source, the scale-killer at 100 TB.
    Each iteration: the `_lloyd_partials` Arrow kernel reduces every
    partition to <= k (sum, count) partial rows, then a k x dim groupBy
    collapses partials across partitions so only the k x dim centroid
    matrix reaches the driver no matter how many partitions exist — the
    documented bounded collect. Empty clusters keep their previous
    centroid (standard Lloyd fixup).
    """
    from pyspark import StorageLevel

    emb = emb.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seeds = emb.orderBy("vec_id").limit(k).select("vec").collect()
        centroids = [list(r["vec"]) for r in seeds]
        for _ in range(iters):
            rows = (
                _lloyd_partials(emb, centroids)
                .groupBy("cluster", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            new = {c: list(cent) for c, cent in enumerate(centroids)}
            for r in rows:
                new[r["cluster"]][r["pos"]] = r["s"] / r["n"]
            centroids = [new[c] for c in range(k)]
        # Unpersisted on exit, so the returned (lazy) plan costs one fresh
        # source scan when the caller materializes it — 2 scans total
        # instead of iters+2, and no cached blocks leaked into a
        # long-lived session. The returned frame's assignment stays the
        # JVM codegen argmin (Python-free output plan).
        return assign_clusters(emb, centroids), centroids
    finally:
        emb.unpersist(blocking=False)


@register("ml_kmeans_lloyd", tags={"rows_only"})
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, 5 Lloyd iterations) over the embeddings table;
    returns per-cluster sizes and inertia. Iterative — not SQL-expressible,
    so rows-only here; tests/test_ml.py asserts the assignment matches a
    numpy reimplementation of the identical algorithm bit-for-bit at test SF.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    assigned, _ = kmeans_lloyd(emb)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("dist2"), 4).alias("inertia"),
        )
        .orderBy("cluster")
    )


def _mg_reduce(counters: dict, budget: int) -> dict:
    """Misra-Gries reduction: subtract the (budget+1)-th largest count from
    every counter and drop the non-positive ones (the mergeable-summaries
    decrement). Each surviving count underestimates the true partition
    count by at most (partition_size / budget)."""
    if len(counters) <= budget:
        return counters
    cut = sorted(counters.values(), reverse=True)[budget]
    return {k: c - cut for k, c in counters.items() if c - cut > 0}


def mg_candidates(keyed: DataFrame, key: str, budget: int = MG_COUNTERS) -> DataFrame:
    """Per-partition Misra-Gries candidate keys through one Arrow pass.

    Memory is O(budget) per task no matter how many distinct keys stream
    through; any key with global frequency > total/budget is guaranteed to
    survive in at least one partition's summary (pigeonhole over the MG
    per-partition guarantee), so the union of summaries is a superset of
    the true heavy hitters.
    """

    def sketch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in it:
            for k_, v in pdf[key].value_counts().items():
                counters[k_] = counters.get(k_, 0) + int(v)
            counters = _mg_reduce(counters, budget)
        yield pd.DataFrame({key: list(counters.keys())})

    return keyed.select(key).mapInPandas(sketch, f"{key} long").distinct()


@register(
    "agg_heavy_hitters",
    oracle=f"""
    SELECT user_id, count(*) AS n
    FROM events
    GROUP BY user_id
    HAVING count(*) * {HH_K} > (SELECT count(*) FROM events)
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi = 1/{HH_K} heavy hitters over events.user_id, computed the
    way it must be at 100 TB of high-cardinality keys: Misra-Gries
    candidate generation (bounded memory, no full-key shuffle), then an
    exact recount restricted to the broadcast candidate set. The
    MG superset guarantee makes the two-pass result exact — hence the full
    DuckDB oracle despite the sketch in the plan.
    """
    ev = load_table(spark, sf_dir, "events")
    cands = mg_candidates(ev, "user_id")
    total = ev.groupBy().agg(F.count(F.lit(1)).alias("_total"))
    return (
        ev.join(F.broadcast(cands), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * HH_K > F.col("_total"))
        .select("user_id", "n")
    )


# Count-min sketch geometry: d seeded hash rows x w counters. Universal
# hashing ((a*k + b) mod p) mod w with p = 2^31-1 keeps every product below
# 2^62, so the SAME formula evaluates exactly in numpy int64 (kernel side)
# and Spark BIGINT arithmetic (estimation side) — the two must agree bit
# for bit or estimates would read the wrong counters.
CMS_D = 4
CMS_W = 1024
CMS_P = (1 << 31) - 1
CMS_A = [1103515245, 134775813, 69069, 1664525]
CMS_B = [12345, 1013904223, 362437, 1013904225]
CMS_TOPK = 20


def cms_sketch(keyed: DataFrame, key: str) -> DataFrame:
    """Merged count-min sketch of ``key`` as (r, j, c) counter cells.

    One vectorized Arrow pass reduces each partition to <= d x w nonzero
    cells regardless of row count or key cardinality (same bounded-memory
    contract as `mg_candidates`); the only shuffle is the O(d x w x
    partitions) cell merge. Numpy does the hashing with the exact integer
    formula `_cms_index` evaluates JVM-side.
    """
    import numpy as np

    def sketch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts = np.zeros((CMS_D, CMS_W), dtype=np.int64)
        for pdf in it:
            if not len(pdf):
                continue
            k2 = np.mod(pdf[key].to_numpy(dtype=np.int64), CMS_P)
            for r in range(CMS_D):
                idx = np.mod(np.mod(CMS_A[r] * k2 + CMS_B[r], CMS_P), CMS_W)
                np.add.at(counts[r], idx, 1)
        r_idx, j_idx = np.nonzero(counts)
        yield pd.DataFrame(
            {"r": r_idx.astype("int32"), "j": j_idx.astype("int32"),
             "c": counts[r_idx, j_idx]}
        )

    return (
        keyed.select(key)
        .mapInPandas(sketch, "r int, j int, c long")
        .groupBy("r", "j")
        .agg(F.sum("c").alias("c"))
    )


def _cms_index(key: Column, r: int) -> Column:
    k2 = F.pmod(key.cast("long"), F.lit(CMS_P))
    return F.pmod(F.pmod(F.lit(CMS_A[r]) * k2 + F.lit(CMS_B[r]), F.lit(CMS_P)), F.lit(CMS_W))


def cms_estimate(candidates: DataFrame, sketch: DataFrame, key: str) -> DataFrame:
    """min-over-rows CMS estimate for each candidate key.

    The merged sketch is <= d x w cells (4096 here) — broadcast — so
    estimation is a map-side join however many candidates stream through.
    Missing cells mean a zero counter (left join + coalesce).
    """
    cells = F.array(
        *[
            F.struct(F.lit(r).alias("r"), _cms_index(F.col(key), r).alias("j"))
            for r in range(CMS_D)
        ]
    )
    probes = candidates.select(key, F.explode(cells).alias("p")).select(
        key, F.col("p.r").alias("r"), F.col("p.j").alias("j")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "j"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_n"))
    )


@register("agg_count_min_topk", tags={"rows_only"})
def agg_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k hot keys via count-min sketch: MG candidate
    generation (superset guarantee) + CMS frequency estimates, the
    classic sketch pairing when exact recounting (agg_heavy_hitters) is
    too expensive. Rows-only — estimates are sketch-specific — with the
    CMS guarantees asserted in tests/test_ml.py: est >= true count and
    est <= true + eps*N for every reported key.

    100 TB shape: both passes reduce partitions to bounded summaries
    (<= MG_COUNTERS keys, <= d x w cells) before any shuffle; the raw key
    stream is never shuffled or recounted.
    """
    ev = load_table(spark, sf_dir, "events")
    cands = mg_candidates(ev, "user_id")
    sk = cms_sketch(ev, "user_id")
    return (
        cms_estimate(cands, sk, "user_id")
        .orderBy(F.col("est_n").desc(), F.col("user_id").asc())
        .limit(CMS_TOPK)
    )


KMPP_ROUNDS = 3  # k-means|| oversampling rounds
KMPP_L = 2 * KMEANS_K  # oversampling factor per round (Bahmani's 2k)


def _uniform01(col: Column, salt: Column) -> Column:
    """Deterministic uniform in [0,1) from md5(id || '_' || salt): first 8
    hex nibbles as a 32-bit integer scaled by 2^-32. No RNG state — the
    sample is reproducible across retries/partitions, which is what makes
    distributed Bernoulli sampling replay-safe."""
    h = F.md5(F.concat(col.cast("string"), F.lit("_"), salt.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)


def kmeans_parallel_init(
    emb: DataFrame, k: int = KMEANS_K, rounds: int = KMPP_ROUNDS, l: int = KMPP_L
) -> list[list[float]]:
    """k-means|| initialization (Bahmani et al., VLDB 2012): instead of
    k-means++'s k sequential weighted draws (k full passes, inherently
    serial), oversample ~l candidates per round for a few rounds with
    INDEPENDENT Bernoulli draws p = min(1, l * d^2/phi) — each round is
    one distributed assign pass + one filter, fully parallel — then
    reduce the ~1 + rounds*l weighted candidates to k on the driver.

    Deterministic everywhere: the Bernoulli draws use the md5-uniform
    (id, round) hash, and the driver-side reduction is weighted
    farthest-first traversal from the heaviest candidate (a deterministic
    stand-in for weighted k-means++ — documented delta from the paper).

    Scale: per round, one O(k x N) JVM assign + an agg for phi (1 row)
    + a filter whose expected yield is l rows collected (bounded driver
    state, like the centroid collects). The raw corpus never shuffles.
    """
    import numpy as np

    emb = emb.persist()
    try:
        first = emb.orderBy("vec_id").limit(1).select("vec").collect()
        cand: list[list[float]] = [list(first[0]["vec"])]
        # Running min-distance state (r10 perf): round r only needs each
        # point's distance to the NEAREST candidate so far, which updates
        # incrementally as least(d2, dist to the round's NEW candidates).
        # The original re-assigned against ALL candidates every round, so
        # the codegen expression grew with the cumulative candidate count
        # (1 -> 17 -> 33 sqdist HOF chains; compile time dominated the
        # 2000-row compute — lesson 10). least() over the identical
        # per-candidate _sqdist values is the same IEEE min, so d2 (and
        # the Bernoulli draws it feeds) is value-identical per round.
        state = assign_clusters(emb, cand).select(
            "vec_id", "vec", F.col("dist2").alias("d2")
        )
        for r in range(rounds):
            state = state.localCheckpoint()  # consumed 2-3x per round
            phi = state.agg(F.sum("d2").alias("p")).collect()[0]["p"]
            if not phi or phi <= 0:
                break
            p = F.least(F.lit(1.0), F.lit(float(l)) * F.col("d2") / F.lit(phi))
            drawn = (
                state.filter(_uniform01(F.col("vec_id"), F.lit(r)) < p)
                .select("vec")
                .collect()
            )
            new = [list(row["vec"]) for row in drawn]
            cand.extend(new)
            if new and r + 1 < rounds:
                nd = F.least(
                    *[_sqdist(F.col("vec"), c) for c in new]
                ) if len(new) > 1 else _sqdist(F.col("vec"), new[0])
                state = state.withColumn("d2", F.least(F.col("d2"), nd))
        # weights: how many corpus points each candidate attracts. The
        # ~1 + rounds*l candidates make the HOF-argmin assign a codegen
        # compile bomb (42 sqdist chains measured 3.2 s on 2000 rows —
        # lesson 10), so the count pass rides the Arrow kernel instead:
        # _lloyd_partials emits <= |cand| x dim partial rows per task;
        # summing n over one fixed pos gives the per-candidate counts
        # (r10, 8.6 -> ~3 s; argmin ties resolve to the lowest index in
        # both implementations, and the weights only steer the
        # deterministic farthest-first reduction).
        counts = {
            row["cluster"]: row["n"]
            for row in _lloyd_partials(emb, cand)
            .filter(F.col("pos") == 0)
            .groupBy("cluster")
            .agg(F.sum("n").alias("n"))
            .collect()
        }
        C = np.array(cand, dtype=np.float64)
        w = np.array([counts.get(i, 0) for i in range(len(cand))], dtype=np.float64)
        # weighted farthest-first reduction to k seeds
        chosen = [int(w.argmax())]
        d2 = ((C - C[chosen[0]]) ** 2).sum(axis=1)
        while len(chosen) < min(k, len(cand)):
            nxt = int((w * d2).argmax())
            chosen.append(nxt)
            d2 = np.minimum(d2, ((C - C[nxt]) ** 2).sum(axis=1))
        return [list(map(float, C[i])) for i in chosen]
    finally:
        emb.unpersist(blocking=False)


@register("ml_kmeans_pp_init", tags={"rows_only"})
def ml_kmeans_pp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means|| seeding quality readout: corpus inertia under k-means||
    seeds vs the naive lowest-id seeds (both before any Lloyd step).
    Rows-only (iterative, not SQL-expressible); tests/test_ml.py asserts
    the seeded cost beats naive on the fixture corpus and that the whole
    procedure is deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    seeded = kmeans_parallel_init(emb)
    naive_rows = emb.orderBy("vec_id").limit(KMEANS_K).select("vec").collect()
    naive = [list(r["vec"]) for r in naive_rows]
    cost_seeded = (
        assign_clusters(emb, seeded).agg(F.sum("dist2").alias("c")).collect()[0]["c"]
    )
    cost_naive = (
        assign_clusters(emb, naive).agg(F.sum("dist2").alias("c")).collect()[0]["c"]
    )
    return spark.createDataFrame(
        [
            (
                KMEANS_K,
                len(seeded),
                round(float(cost_seeded), 4),
                round(float(cost_naive), 4),
                bool(cost_seeded < cost_naive),
            )
        ],
        "k int, n_seeds int, seeded_inertia double, naive_inertia double, improved boolean",
    )


OLS_FEATURES = ["l_quantity", "l_discount", "l_tax"]  # plus intercept


# --- Shared-expression linear solves (r11) ---------------------------------
# The Cramer solve and every downstream scalar are generated ONCE as
# expression STRINGS over named double variables, then (a) eval'd
# stage-by-stage on the driver and (b) embedded verbatim as chained SQL
# CTE stages in the DuckDB oracle. Python and SQL share precedence and
# left-associativity for * / + -, so the IEEE trees are IDENTICAL by
# construction — no np.linalg (LAPACK's pivoted LU has no SQL twin).
# Strings use only variable names, * / + - parentheses, and INTEGER
# literals (decimal literals type as DECIMAL in DuckDB — the r10
# class-d trap — so the per-engine prep stage does all int->double
# conversions explicitly).


def _round_sql(grain: int) -> str:
    """SQL twin of the floor-round idiom (see _round6_floor): a
    {x}-format template. ONE source of truth — nine hand copies of this
    determinism-critical string were the r11 self-review's reuse find."""
    g = 10 ** grain
    return (
        f"floor({{x}} * CAST({g} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" / CAST({g} AS DOUBLE)"
    )


def _det_expr(elem, rows, cols) -> str:
    """Determinant of the submatrix elem(r, c) over rows x cols by
    first-row cofactor expansion — a fixed expression tree."""
    if len(rows) == 1:
        return elem(rows[0], cols[0])
    parts = []
    for k, c in enumerate(cols):
        sub = _det_expr(elem, rows[1:], cols[:k] + cols[k + 1:])
        parts.append(f"{elem(rows[0], c)}*({sub})")
    out = parts[0]
    for k, p in enumerate(parts[1:], 1):
        out = f"{out} {'-' if k % 2 else '+'} {p}"
    return f"({out})"


def _cramer_stages(d: int, m, v) -> list[tuple[str, str]]:
    """Stages computing det + solution b0..b{d-1} of M b = V by Cramer,
    where m(i, j) / v(i) name the matrix/vector variables."""
    idx = list(range(d))
    stages = [("det", _det_expr(m, idx, idx))]
    for k in range(d):
        def elem(r, c, _k=k):
            return v(r) if c == _k else m(r, c)

        stages.append((f"b{k}", f"({_det_expr(elem, idx, idx)})/det"))
    return stages


def _eval_stages(stages, ns: dict) -> dict:
    """Driver half of the shared-expression contract: evaluate each
    stage in order over the accumulating namespace."""
    for name, expr in stages:
        ns[name] = eval(expr, {"__builtins__": {}}, ns)  # noqa: S307
    return ns


def _stage_ctes(stages, first_from: str, prefix: str = "st") -> tuple[str, str]:
    """SQL half: one chained CTE per stage, each SELECT *, expr AS name."""
    ctes = []
    prev = first_from
    for k, (name, expr) in enumerate(stages):
        nm = f"{prefix}{k}"
        ctes.append(f"{nm} AS MATERIALIZED (SELECT *, {expr} AS {name} FROM {prev})")
        prev = nm
    return ",\n    ".join(ctes), prev


def _sym(i: int, j: int) -> str:
    return f"xx_{min(i, j)}_{max(i, j)}"


def _chol_solve_stages(d: int, m, v) -> list[tuple[str, str]]:
    """Stages solving the symmetric positive-definite system M b = V by
    CHOLESKY + two triangular solves — the shared-expression alternative
    to Cramer when d is too big for cofactor expansion (d=10 Cramer is
    10! terms; Cholesky is d(d+1)/2 + 2d stages). No pivoting: normal
    equations of a full-rank design are PD, so the diagonal never needs
    it, and sqrt is IEEE-correctly-rounded on both engines."""
    st = []
    for j in range(d):
        expr = m(j, j)
        for k in range(j):
            expr = f"{expr} - l_{j}_{k}*l_{j}_{k}"
        st.append((f"l_{j}_{j}", f"sqrt({expr})"))
        for i in range(j + 1, d):
            e = m(i, j)
            for k in range(j):
                e = f"{e} - l_{i}_{k}*l_{j}_{k}"
            st.append((f"l_{i}_{j}", f"({e})/l_{j}_{j}"))
    for j in range(d):
        e = v(j)
        for k in range(j):
            e = f"{e} - l_{j}_{k}*yf_{k}"
        st.append((f"yf_{j}", f"({e})/l_{j}_{j}"))
    for i in reversed(range(d)):
        e = f"yf_{i}"
        for k in range(i + 1, d):
            e = f"{e} - l_{k}_{i}*b{k}"
        st.append((f"b{i}", f"({e})/l_{i}_{i}"))
    return st


def _ols_stages() -> list[tuple[str, str]]:
    """OLS over doubles xx_i_j (i<=j), xy_i, yy, sy, nd: Cramer 4x4,
    then R^2 from the same sufficient statistics."""
    stages = _cramer_stages(4, _sym, lambda i: f"xy_{i}")
    bty = "(((b0*xy_0 + b1*xy_1) + b2*xy_2) + b3*xy_3)"
    terms = [f"b{i}*b{j}*{_sym(i, j)}" for i in range(4) for j in range(4)]
    btxtxb = terms[0]
    for t in terms[1:]:
        btxtxb = f"{btxtxb} + {t}"
    stages += [
        ("bty", bty),
        ("btxtxb", f"({btxtxb})"),
        ("ss_res", "yy - 2*bty + btxtxb"),
        ("ss_tot", "yy - nd*((sy/nd)*(sy/nd))"),
        ("r2", "1 - ss_res/ss_tot"),
    ]
    return stages


_OLS_UNIT_SQL = """
    units AS (
      SELECT 100 AS u0,
             CAST(round(l_quantity * 100) AS BIGINT) AS u1,
             CAST(round(l_discount * 100) AS BIGINT) AS u2,
             CAST(round(l_tax * 100) AS BIGINT)      AS u3,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      FROM lineitem
    )"""


def _ols_oracle() -> str:
    sums = ["CAST(count(*) AS BIGINT) AS n",
            "sum(CAST(yc AS HUGEINT)) AS syi",
            "sum(CAST(yc AS HUGEINT) * yc) AS yyi"]
    prep = ["CAST(n AS DOUBLE) AS nd",
            "CAST(syi AS DOUBLE) / CAST(100 AS DOUBLE) AS sy",
            "CAST(yyi AS DOUBLE) / CAST(10000 AS DOUBLE) AS yy"]
    for i in range(4):
        sums.append(f"sum(CAST(u{i} AS HUGEINT) * yc) AS xyi_{i}")
        prep.append(
            f"CAST(xyi_{i} AS DOUBLE) / CAST(10000 AS DOUBLE) AS xy_{i}"
        )
        for j in range(i, 4):
            sums.append(f"sum(CAST(u{i} AS HUGEINT) * u{j}) AS xxi_{i}_{j}")
            prep.append(
                f"CAST(xxi_{i}_{j} AS DOUBLE) / CAST(10000 AS DOUBLE)"
                f" AS xx_{i}_{j}"
            )
    ctes, last = _stage_ctes(_ols_stages(), "vals")
    r6 = _round_sql(6)
    outs = [
        f"SELECT '{t}' AS term, {r6.format(x=f'b{k}')} AS value FROM {last}"
        for k, t in enumerate(["intercept", *OLS_FEATURES])
    ] + [f"SELECT 'r2', {r6.format(x='r2')} FROM {last}"]
    body = "\n    UNION ALL\n    ".join(outs)
    return f"""
    WITH {_OLS_UNIT_SQL.strip()},
    vals_i AS MATERIALIZED (
      SELECT {", ".join(sums)}
      FROM units
    ),
    vals AS MATERIALIZED (
      SELECT {", ".join(prep)}
      FROM vals_i
    ),
    {ctes}
    {body}
    """


@register("ml_ols_normal_equations", oracle=_ols_oracle())
def ml_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature OLS (price ~ quantity + discount + tax + 1) via the
    normal equations: ONE JVM-side aggregate collects the sufficient
    statistics — the upper triangle of X^T X (d*(d+1)/2 sums of products),
    X^T y, y^T y and n — and the d x d solve happens on the driver.
    R^2 comes from the same statistics (SS_res = y'y - 2b'X'y + b'X'Xb),
    so the WHOLE regression is one pass over the data with O(d^2)
    shuffled state — the classic scale shape for linear models
    (d features, any number of rows; no per-iteration scans, no Python
    in the data path).

    ORACLED (r11, upgraded from rows-only): every feature and the price
    live on 2-decimal grids, so ALL sufficient statistics are EXACT
    integers in 1e-2 units (DECIMAL38/HUGEINT accumulation — order-free
    on both engines, the ansari overflow class: sum(cents^2) passes
    int64 around 10^6 rows) and the 4x4 solve + R^2 evaluate through
    SHARED expression strings (_ols_stages) — the driver eval and the
    oracle's chained CTEs execute the IDENTICAL IEEE tree, Cramer
    instead of LAPACK's pivoted LU (which has no SQL twin). Bit-exact,
    not tolerance-close. A singular X'X divides by det = 0 — fail-loud,
    the driver-solve idiom. tests/test_ml.py still pins every
    coefficient and R^2 against numpy's lstsq.
    """
    li = load_table(spark, sf_dir, "lineitem")
    units = li.select(
        F.lit(100).alias("u0"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("u1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("u2"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("u3"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("yc"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(yc AS DECIMAL(38,0))")).alias("syi"),
        F.sum(F.expr("CAST(yc AS DECIMAL(38,0)) * yc")).alias("yyi"),
    ]
    for i in range(4):
        aggs.append(
            F.sum(F.expr(f"CAST(u{i} AS DECIMAL(38,0)) * yc")).alias(f"xyi_{i}")
        )
        for j in range(i, 4):
            aggs.append(
                F.sum(F.expr(f"CAST(u{i} AS DECIMAL(38,0)) * u{j}")).alias(
                    f"xxi_{i}_{j}"
                )
            )
    row = units.agg(*aggs).collect()[0]
    ns = {
        "nd": float(int(row["n"])),
        "sy": int(row["syi"]) / 100.0,
        "yy": int(row["yyi"]) / 10000.0,
    }
    for i in range(4):
        ns[f"xy_{i}"] = int(row[f"xyi_{i}"]) / 10000.0
        for j in range(i, 4):
            ns[f"xx_{i}_{j}"] = int(row[f"xxi_{i}_{j}"]) / 10000.0
    ns = _eval_stages(_ols_stages(), ns)
    terms = ["intercept", *OLS_FEATURES]
    out = [(t, _round6_floor(ns[f"b{k}"])) for k, t in enumerate(terms)] + [
        ("r2", _round6_floor(ns["r2"]))
    ]
    return local_frame(spark, out, "term string, value double")


PCA_TOP = 5  # principal components reported


@register("ml_pca_covariance", tags={"rows_only"})
def ml_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PCA of the embedding corpus via the covariance method: ONE
    Arrow pass reduces each partition to (sum-vector, raw cross-product
    upper triangle, count) sufficient statistics, the d x d covariance is
    assembled and eigendecomposed on the driver (d=64 — a trivial local
    eigh), and the top components' eigenvalues + explained-variance ratios
    come out. This is the textbook big-data PCA shape: corpus size only
    affects the embarrassingly-parallel partial pass; shuffled state is
    O(partitions * d^2) and driver state O(d^2), both corpus-independent.

    The kernel accumulates RAW sums (sum x, sum x x^T) and the driver
    forms cov = (Sxx - n*mean*mean^T) / (n-1) — the one-pass centering
    identity, exact in float64 at fixture scale and the standard
    trade at 100 TB (a two-pass centered variant halves rounding error
    for ill-conditioned data at the cost of a second scan).

    Rows-only (spectral output); tests/test_ml.py pins eigenvalues and
    explained-variance against numpy's eigh on the same rows.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        _as_double(F.col("embedding")).alias("vec")
    )

    def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        S = None
        n = 0
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            d = X.shape[1]
            if S is None:
                S = np.zeros(d + d * d)
            S[:d] += X.sum(axis=0)
            S[d:] += (X.T @ X).ravel()
            n += len(X)
        if S is not None:
            yield pd.DataFrame(
                {
                    "pos": np.arange(len(S) + 1),
                    "v": np.concatenate([S, [float(n)]]),
                }
            )

    rows = (
        emb.mapInPandas(partials, "pos long, v double")
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    acc = {r["pos"]: r["v"] for r in rows}
    total = len(acc) - 1
    d = int((-1 + (1 + 4 * total) ** 0.5) / 2)  # total = d + d^2
    n = acc[total]
    sx = np.array([acc[i] for i in range(d)])
    sxx = np.array([acc[d + i] for i in range(d * d)]).reshape(d, d)
    mean = sx / n
    cov = (sxx - n * np.outer(mean, mean)) / (n - 1)
    evals, _ = np.linalg.eigh(cov)
    evals = evals[::-1]  # descending
    ratio = evals / evals.sum()
    out = [
        (i + 1, float(round(evals[i], 6)), float(round(ratio[i], 6)))
        for i in range(PCA_TOP)
    ]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, explained_var double"
    )


LOGREG_ITERS = 8
LOGREG_FEATURES = ["l_quantity", "l_discount", "l_tax"]  # plus intercept


def _logreg_cramer_stages() -> list[tuple[str, str]]:
    return _cramer_stages(
        4,
        lambda i, j: f"h_{min(i, j)}_{max(i, j)}",
        lambda i: f"g_{i}",
    )


def _logreg_oracle() -> str:
    """DuckDB twin of ml_logreg_irls: the identical IRLS iteration
    UNROLLED over the identical feature-grid cell compression (the
    platt/svm precedent), with each 4x4 Newton solve running the SAME
    Cramer expression strings the driver fold evaluates
    (_logreg_cramer_stages — the OLS shared-expression contract).
    exp/ln are glibc-bit-identical; per-cell sums carry ~1e-16 ordering
    noise that IRLS contraction collapses below the floor-round grain."""
    xs = ["CAST(1 AS DOUBLE)",
          "(u1 / CAST(100 AS DOUBLE))",
          "(u2 / CAST(100 AS DOUBLE))",
          "(u3 / CAST(100 AS DOUBLE))"]
    steps = []
    prev = "bb0"
    for t in range(1, LOGREG_ITERS + 1):
        xb = (f"(((p.bb0 + p.bb1 * {xs[1]}) + p.bb2 * {xs[2]})"
              f" + p.bb3 * {xs[3]})")
        pexpr = (f"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)"
                 f" + exp(-({xb})))")
        sums = []
        for i in range(4):
            sums.append(f"sum(cnt * ({xs[i]} * (y - pr))) AS g_{i}")
        for i in range(4):
            for j in range(i, 4):
                sums.append(
                    f"sum(cnt * (((pr * (CAST(1 AS DOUBLE) - pr))"
                    f" * {xs[i]}) * {xs[j]})) AS h_{i}_{j}"
                )
        ctes, last = _stage_ctes(_logreg_cramer_stages(), f"gh{t}",
                                 prefix=f"i{t}s")
        steps.append(f"""
    e{t} AS MATERIALIZED (
      SELECT cnt, y, u1, u2, u3, {pexpr} AS pr
      FROM cells, {prev} p
    ),
    gh{t} AS MATERIALIZED (
      SELECT {", ".join(sums)}
      FROM e{t}
    ),
    {ctes},
    bb{t} AS MATERIALIZED (
      SELECT p.bb0 + s.b0 AS bb0, p.bb1 + s.b1 AS bb1,
             p.bb2 + s.b2 AS bb2, p.bb3 + s.b3 AS bb3
      FROM {prev} p, {last} s
    )""")
        prev = f"bb{t}"
    body = ",".join(steps)
    xb = (f"(((p.bb0 + p.bb1 * {xs[1]}) + p.bb2 * {xs[2]})"
          f" + p.bb3 * {xs[3]})")
    pexpr = f"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-({xb})))"
    r6 = _round_sql(6)
    terms = ["intercept", *LOGREG_FEATURES]
    outs = [
        f"SELECT '{t_}' AS term, {r6.format(x=f'bb{k}')} AS value FROM {prev}"
        for k, t_ in enumerate(terms)
    ] + [f"SELECT 'log_loss', {r6.format(x='ll')} FROM llt"]
    sel = "\n    UNION ALL\n    ".join(outs)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS u1,
             CAST(round(l_discount * 100) AS BIGINT) AS u2,
             CAST(round(l_tax * 100) AS BIGINT)      AS u3,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2, 3, 4
    ),
    meta AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
    bb0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS bb0,
                                CAST(0 AS DOUBLE) AS bb1,
                                CAST(0 AS DOUBLE) AS bb2,
                                CAST(0 AS DOUBLE) AS bb3),{body},
    llt AS MATERIALIZED (
      SELECT sum(cnt * (-(y * ln(pr)
                          + (1 - y) * ln(CAST(1 AS DOUBLE) - pr)))) / m.n
               AS ll
      FROM (SELECT cnt, y, {pexpr} AS pr FROM cells, {prev} p), meta m
      GROUP BY m.n
    )
    {sel}
    """


@register("ml_logreg_irls", oracle=_logreg_oracle())
def ml_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed binary logistic regression trained with Newton/IRLS:
    P(l_returnflag = 'R') ~ sigmoid(b0 + b . [quantity, discount, tax]).

    Each iteration solves the d x d Newton system for the gradient
    X^T (y - p) and the Hessian X^T diag(p(1-p)) X at the current beta,
    p = sigmoid(x . beta). Scale: one scan and one cell-sized collect,
    then O(iters * cells) driver work; unbounded feature grids would
    move the sums back into a distributed aggregate (the MLlib shape).

    ORACLED (r11, upgraded from rows-only — the platt/svm/cox cell
    precedent): the feature grids are 2-decimal-bounded, so the fact
    table compresses to ~10^4 (qty, disc, tax, label, count) cells in
    ONE partial-combinable groupBy, collected through Arrow; the
    LOGREG_ITERS IRLS iterations fold over them driver-side
    (_irls_fold, glibc exp/log) — one scan instead of nine. Each 4x4
    Newton solve evaluates the SAME Cramer expression strings the
    oracle's CTE chain executes (_logreg_cramer_stages — the OLS
    shared-expression contract; np.linalg.solve's pivoted LU has no SQL
    twin). Per-cell sum-order noise (~1e-16) collapses under IRLS
    contraction below the floor-round grain. tests/test_ml.py still
    pins coefficients and log-loss against a numpy IRLS twin.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("u1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("u2"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("u3"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    cells = (
        li.groupBy("u1", "u2", "u3", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .toArrow()
    )
    if any(c.null_count for c in cells.columns):
        raise TypeError("ml_logreg_irls: a NULL feature or label cell")
    beta, ll = _irls_fold(*(c.to_numpy() for c in cells.columns))
    terms = ["intercept", *LOGREG_FEATURES]
    out = [(t, _round6_floor(b)) for t, b in zip(terms, beta)] + [
        ("log_loss", _round6_floor(ll))
    ]
    return local_frame(spark, out, "term string, value double")


def _seq_sum(a) -> float:
    """``acc = 0.0; for t in a: acc += t`` without the Python loop: a
    sequential cumulative sum seeded with 0.0 (so an all -0.0 input sums
    to 0.0 as the loop does). np.sum is pairwise and rounds differently."""
    import numpy as np

    return float(np.cumsum(np.concatenate(([0.0], a)))[-1])


def _irls_fold(u1, u2, u3, y, cnt) -> tuple[list[float], float]:
    """LOGREG_ITERS Newton/IRLS steps from beta = 0 and the final mean
    log-loss over (u1, u2, u3, y, cnt) integer cells (features in
    hundredths), given as arrays in any order; returns (beta, log_loss).

    Bit-identical to a scalar loop over the cells in Python tuple order
    (np.lexsort, last key first): each per-cell term is the same
    element-wise expression in the same order, each sum a _seq_sum, and
    exp/log run through math.* (glibc, the oracle's contract) since
    np.exp and np.log round differently on about a fifth of inputs."""
    import math

    import numpy as np

    cols = [np.asarray(a, dtype=np.int64) for a in (u1, u2, u3, y, cnt)]
    order = np.lexsort(cols[::-1])
    u1, u2, u3, y, cnt = (a[order] for a in cols)
    x = (1.0, u1 / 100.0, u2 / 100.0, u3 / 100.0)
    yd = y.astype(np.float64)

    def glibc(f, a):
        return np.fromiter(map(f, a.tolist()), np.float64, len(a))

    def prob(b):
        xb = ((b[0] + b[1] * x[1]) + b[2] * x[2]) + b[3] * x[3]
        return 1.0 / (1.0 + glibc(math.exp, -xb))

    beta = [0.0, 0.0, 0.0, 0.0]
    stages = _logreg_cramer_stages()
    for _ in range(LOGREG_ITERS):
        p = prob(beta)
        w = p * (1.0 - p)
        r = yd - p
        ns = {}
        for i in range(4):
            ns[f"g_{i}"] = _seq_sum(cnt * (x[i] * r))
            for j in range(i, 4):
                ns[f"h_{i}_{j}"] = _seq_sum(cnt * ((w * x[i]) * x[j]))
        ns = _eval_stages(stages, ns)
        beta = [beta[k] + ns[f"b{k}"] for k in range(4)]
    p = prob(beta)
    loss = cnt * (-(yd * glibc(math.log, p) + (1.0 - yd) * glibc(math.log, 1.0 - p)))
    return beta, _seq_sum(loss) / int(cnt.sum())


GMM_K = 4
GMM_ITERS = 3
GMM_VAR_FLOOR = 1e-6


@register("ml_gmm_em", tags={"rows_only"})
def ml_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Gaussian Mixture Model trained with EM — the
    soft-assignment step past k-means (MLlib GaussianMixture's shape).

    Each EM iteration FUSES the E and M steps in one Arrow pass: with the
    current (weights, means, variances) closed over, every partition
    computes per-row responsibilities (stable log-sum-exp) and reduces
    itself to per-cluster (Σr, Σr·x, Σr·x², Σlog-lik) partials — O(k·d)
    rows per partition, so the shuffle and the driver collect are
    corpus-size-independent exactly like Lloyd's. Deterministic init from
    the k lowest vec_ids (unit variances, uniform weights); variances are
    floored (standard EM degeneracy guard).

    Rows-only (iterative, spectral-free output: per-cluster weight and
    first-dims mean/variance + the converged mean log-likelihood);
    tests/test_ml.py pins every reported value against a numpy EM twin
    with identical init and iteration count.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("vec")
    )
    emb = emb.persist()
    try:
        seeds = emb.orderBy("vec_id").limit(GMM_K).select("vec").collect()
        mu = np.array([list(r["vec"]) for r in seeds], dtype=np.float64)
        k, d = mu.shape
        var = np.ones((k, d))
        w = np.full(k, 1.0 / k)
        ll = float("nan")

        for _ in range(GMM_ITERS):
            mu_b, var_b, w_b = mu.copy(), var.copy(), w.copy()

            def estep(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                import numpy as np

                sr = np.zeros(k)
                sx = np.zeros((k, d))
                sxx = np.zeros((k, d))
                sll = 0.0
                n = 0
                for pdf in it:
                    if not len(pdf):
                        continue
                    X = np.array(
                        [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
                    )
                    # log N(x | mu_c, diag var_c) for every (row, cluster)
                    lp = -0.5 * (
                        ((X[:, None, :] - mu_b[None, :, :]) ** 2 / var_b).sum(2)
                        + np.log(2 * np.pi * var_b).sum(1)[None, :]
                    ) + np.log(w_b)[None, :]
                    m = lp.max(axis=1, keepdims=True)
                    lse = m[:, 0] + np.log(np.exp(lp - m).sum(axis=1))
                    r = np.exp(lp - lse[:, None])  # responsibilities
                    sr += r.sum(axis=0)
                    sx += r.T @ X
                    sxx += r.T @ (X * X)
                    sll += lse.sum()
                    n += len(X)
                if n:
                    out = np.concatenate(
                        [sr, sx.ravel(), sxx.ravel(), [sll, float(n)]]
                    )
                    yield pd.DataFrame(
                        {"pos": np.arange(len(out)), "v": out}
                    )

            rows = (
                emb.select("vec")
                .mapInPandas(estep, "pos long, v double")
                .groupBy("pos")
                .agg(F.sum("v").alias("v"))
                .collect()
            )
            acc = np.zeros(k + 2 * k * d + 2)
            for r in rows:
                acc[r["pos"]] = r["v"]
            sr = acc[:k]
            sx = acc[k : k + k * d].reshape(k, d)
            sxx = acc[k + k * d : k + 2 * k * d].reshape(k, d)
            n = acc[-1]
            ll = acc[-2] / n
            w = sr / n
            mu = sx / sr[:, None]
            var = np.maximum(sxx / sr[:, None] - mu**2, GMM_VAR_FLOOR)
    finally:
        emb.unpersist(blocking=False)

    out = []
    for c in range(k):
        out.append(
            (
                c,
                float(round(w[c], 6)),
                float(round(mu[c, 0], 6)),
                float(round(mu[c, 1], 6)),
                float(round(var[c, 0], 6)),
            )
        )
    out.append((-1, float(round(ll, 6)), 0.0, 0.0, 0.0))  # loglik row
    return spark.createDataFrame(
        out, "cluster int, weight double, mu0 double, mu1 double, var0 double"
    )


@register(
    "ml_naive_bayes_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    class_counts AS (
      SELECT lang, term, CAST(count(*) AS DOUBLE) AS c
      FROM toks GROUP BY lang, term
    ),
    class_totals AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS tot FROM toks GROUP BY lang
    ),
    vocab AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM toks),
    priors AS (
      SELECT lang,
             ln(CAST(count(*) AS DOUBLE)
                / (SELECT count(*) FROM documents)) AS logprior
      FROM documents GROUP BY lang
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    scored AS (
      SELECT t.doc_id, p.lang,
             p.logprior
               + sum(t.tf * (ln(coalesce(cc.c, 0) + 1)
                             - ln(ct.tot + vocab.v))) AS score
      FROM tf t
      CROSS JOIN priors p
      JOIN class_totals ct ON ct.lang = p.lang
      CROSS JOIN vocab
      LEFT JOIN class_counts cc ON cc.lang = p.lang AND cc.term = t.term
      GROUP BY t.doc_id, p.lang, p.logprior
    ),
    best AS (
      SELECT doc_id, lang AS pred_lang, round(score, 4) AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY round(score, 4) DESC, lang ASC) AS rn
      FROM scored
    )
    SELECT b.doc_id, b.pred_lang, b.score,
           CAST(b.pred_lang = d.lang AS BOOLEAN) AS correct
    FROM best b JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier trained and scored on
    the corpus itself (Laplace alpha=1) — the classic fastText-free
    language-ID baseline a data pipeline runs when a learned model is not
    worth shipping. Outputs per-doc argmax language, its log-score, and
    agreement with the labeled lang column.

    Plan shape (all JVM, zero Python): the model IS three aggregates —
    per-(lang, term) counts, per-lang token totals, doc-count priors.
    Scoring joins each doc's (term, tf) vector against the 5-row lang
    dimension (broadcast) and the (lang, term) likelihood table
    (hash-partitioned on term, AQE-broadcast when the vocabulary is
    small), then one (doc_id, lang) partial-combinable sum. Unseen terms
    contribute ln(alpha / (tot + V)) via the LEFT join's coalesce —
    exactly the smoothed zero-count likelihood, no dense vocab x lang
    materialization.

    At 100 TB: class_counts is bounded by vocab x langs (not corpus
    rows), priors/totals are tiny aggregates, and the scoring join
    shuffles on term — the same co-location the tfidf op uses. Argmax is
    computed on the 4-dp-rounded score with a lang tiebreak so fp
    summation order (which differs across engines AND partitionings)
    cannot flip predictions: true score gaps between languages are O(1),
    accumulated fp noise is O(1e-12).
    """
    d = load_table(spark, sf_dir, "documents")
    # r13 optimization note: a _spread here was measured 1.5x SLOWER at
    # sf0.1 — the flat token explode is cheap (no n-gram HOF) and the
    # added exchange is paid once per aggregate branch. Left alone.
    toks = d.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    class_counts = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    class_totals = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("tot")
    )
    vocab = toks.agg(F.countDistinct("term").cast("double").alias("v"))
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    priors = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("nd"))
        .crossJoin(F.broadcast(n_docs))
        .select("lang", F.log(F.col("nd") / F.col("n")).alias("logprior"))
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    lang_dim = (
        priors.join(class_totals, "lang")
        .crossJoin(F.broadcast(vocab))
        .select("lang", "logprior", (F.col("tot") + F.col("v")).alias("denom"))
    )
    cc = class_counts.select(
        F.col("lang").alias("_cl"), F.col("term").alias("_ct"), "c"
    )
    scored = (
        tf.crossJoin(F.broadcast(lang_dim))
        .join(
            cc,
            (F.col("_cl") == F.col("lang")) & (F.col("_ct") == F.col("term")),
            "left",
        )
        .groupBy("doc_id", "lang", "logprior")
        .agg(
            F.sum(
                F.col("tf")
                * (F.log(F.coalesce(F.col("c"), F.lit(0.0)) + 1) - F.log("denom"))
            ).alias("s")
        )
        .select(
            "doc_id", "lang", (F.col("logprior") + F.col("s")).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.round("score", 4).desc(), F.col("lang").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("pred_lang"),
            F.round("score", 4).alias("score"),
        )
    )
    return best.join(d.select("doc_id", F.col("lang").alias("_true")), "doc_id").select(
        "doc_id",
        "pred_lang",
        "score",
        (F.col("pred_lang") == F.col("_true")).alias("correct"),
    )


GBDT_ROUNDS = 3
GBDT_LR = 0.5
GBDT_FEATURES = ["l_quantity", "l_discount", "l_tax"]
GBDT_N_THRESH = 7  # candidate splits per feature (octile boundaries)


@register("ml_gbdt_stumps", tags={"rows_only"})
def ml_gbdt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted decision stumps (squared loss — the XGBoost shape
    at depth 1): F_0 = mean(y), then each round fits the best
    single-split stump to the residuals and adds it with learning rate
    0.5. Candidate thresholds are the octile boundaries of each feature
    (computed ONCE, exact percentiles); the best split maximizes the
    standard variance-gain sum_L^2/n_L + sum_R^2/n_R - sum^2/n.

    Scale shape: ONE whole-stage-codegen aggregate per round evaluates
    EVERY candidate split simultaneously — 3 features x 7 thresholds x
    (conditional sum, count) + totals = ~44 partial-combinable columns,
    O(candidates) state regardless of row count; this simultaneous-
    candidate trick is exactly how XGBoost's approx/hist mode
    distributes tree finding. The running prediction F(x) enters each
    round as a nested-CASE expression over the previous stumps
    (literals), so residuals never materialize. Driver state: the stump
    table. iters x scans over a persisted narrow projection.

    Rows-only (model table); tests/test_ml.py pins every split choice,
    leaf weight, and the final train MSE against a numpy twin.
    """
    import numpy as np

    li = (
        _spread_ml(
            load_table(spark, sf_dir, "lineitem").select(
                F.col("l_extendedprice").alias("y"), *GBDT_FEATURES
            )
        )
        .persist()
    )
    try:
        qs = [i / (GBDT_N_THRESH + 1) for i in range(1, GBDT_N_THRESH + 1)]
        pct = li.agg(
            *[
                F.expr(
                    f"percentile({f}, array({', '.join(str(q) for q in qs)}))"
                ).alias(f)
                for f in GBDT_FEATURES
            ]
        ).collect()[0]
        cands = [
            (f, float(round(t, 6)))
            for f in GBDT_FEATURES
            for t in sorted(set(pct[f]))
        ]

        def pred_expr(stumps):
            e = F.lit(float(stumps[0]))  # F0 = mean(y)
            for feat, thr, wl, wr in stumps[1:]:
                e = e + F.when(
                    F.col(feat) <= F.lit(thr), F.lit(wl)
                ).otherwise(F.lit(wr))
            return e

        mean_y = li.agg(F.avg("y")).collect()[0][0]
        stumps: list = [float(mean_y)]
        for _ in range(GBDT_ROUNDS):
            r = F.col("y") - pred_expr(stumps)
            aggs = [F.sum(r).alias("s"), F.count(F.lit(1)).alias("n")]
            for i, (feat, thr) in enumerate(cands):
                left = F.col(feat) <= F.lit(thr)
                aggs.append(F.sum(F.when(left, r)).alias(f"sl_{i}"))
                aggs.append(F.sum(F.when(left, 1)).alias(f"nl_{i}"))
            row = li.agg(*aggs).collect()[0]
            s, n = float(row["s"]), int(row["n"])
            best = None
            for i, (feat, thr) in enumerate(cands):
                sl = float(row[f"sl_{i}"] or 0.0)
                nl = int(row[f"nl_{i}"] or 0)
                nr = n - nl
                if nl == 0 or nr == 0:
                    continue
                sr = s - sl
                gain = sl * sl / nl + sr * sr / nr - s * s / n
                key = (-gain, feat, thr)  # deterministic: gain desc, then name/thr
                if best is None or key < best[0]:
                    best = (key, feat, thr, GBDT_LR * sl / nl, GBDT_LR * sr / nr)
            _, feat, thr, wl, wr = best
            stumps.append((feat, thr, wl, wr))
        mse = li.agg(
            F.avg(F.pow(F.col("y") - pred_expr(stumps), F.lit(2.0)))
        ).collect()[0][0]
    finally:
        li.unpersist(blocking=False)
    out = [("__f0__", 0, float(round(stumps[0], 6)), 0.0, 0.0)] + [
        (feat, rnd + 1, float(round(thr, 6)), float(round(wl, 6)), float(round(wr, 6)))
        for rnd, (feat, thr, wl, wr) in enumerate(stumps[1:])
    ] + [("__mse__", -1, float(round(mse, 4)), 0.0, 0.0)]
    return spark.createDataFrame(
        out, "feature string, round int, threshold double, w_left double, w_right double"
    )


ALS_F = 4  # latent factors
ALS_REG = 0.1
ALS_SWEEPS = 2  # alternating (user, item) sweep pairs


def _als_init_factor(idx: int) -> list[float]:
    """Deterministic pseudo-random init — integer hash, exactly
    reproducible in the numpy twin (no RNG state to share)."""
    return [
        ((idx * 2654435761 + j * 40503) % 1000) / 1000.0 + 0.1
        for j in range(ALS_F)
    ]


def _als_solve_side(ratings: DataFrame, fixed: DataFrame, key: str, other: str) -> DataFrame:
    """One half-sweep: solve the ridge normal equations per `key` group,
    with the FIXED side's factor vectors delivered through a join (the
    factors travel in the shuffle alongside their ratings — the scalable
    ALS layout; broadcasting the whole factor matrix would cap at
    driver/executor memory, which is exactly what MLlib's block ALS
    avoids)."""
    import numpy as np

    joined = ratings.join(fixed.withColumnRenamed("id", other), other).select(
        F.col(key).alias("id"), "r", "f"
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        V = np.array(pdf["f"].tolist())  # n_ratings x F
        r = pdf["r"].to_numpy()
        A = V.T @ V + ALS_REG * len(r) * np.eye(ALS_F)
        x = np.linalg.solve(A, V.T @ r)
        return pd.DataFrame({"id": [int(pdf["id"].iloc[0])], "f": [x.tolist()]})

    # Explicit co-partition ahead of the Python kernel — AQE's byte-based
    # coalescing undercounts per-group solve cost (see
    # timeseries._spread_groups for the measured rationale).
    from go_batch_processor_spark.operators.timeseries import _spread_groups

    return (
        _spread_groups(joined, "id")
        .groupBy("id")
        .applyInPandas(solve, "id long, f array<double>")
    )


@register("ml_als_factorize", tags={"rows_only"})
def ml_als_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating Least Squares matrix factorization (Koren/Hu-style
    explicit ALS with per-group ridge) over the user x item rating
    matrix derived from events — THE canonical distributed recommender
    trainer (MLlib's flagship algorithm, reimplemented on the public
    DataFrame surface).

    Scale shape: each half-sweep is ratings ⋈ fixed-side factors (hash
    join on the fixed key, factor vectors ride the shuffle with their
    ratings — never a full-matrix broadcast) followed by one
    applyInPandas group solve of an F x F system per entity (F=4:
    trivially in-memory per group; MLlib blocks entities for fewer,
    larger solves — same algebra). 2 alternating sweep pairs = 4
    shuffles + 4 grouped solves, independent of corpus size per entity.
    Deterministic: integer-hash factor init, exact float64 solves.

    Rows-only (factor table + RMSE); tests/test_ml.py pins factor
    vectors and the final RMSE against a numpy twin, and asserts the
    factorization beats the global-mean baseline.
    """
    ev = load_table(spark, sf_dir, "events")
    ratings = (
        ev.select(
            F.col("user_id").alias("u"),
            F.get_json_object("props", "$.k").cast("long").alias("i"),
            F.col("value").alias("r"),
        )
        .filter(F.col("i").isNotNull())
        .groupBy("u", "i")
        .agg(F.avg("r").alias("r"))
        .persist()
    )
    try:
        # Item-factor init stays DISTRIBUTED: _als_init_factor's integer
        # arithmetic expressed as a transform(sequence(...)) column over
        # distinct item ids. Collecting the item vocabulary to the driver
        # (the r06 version) is a driver OOM at 100 TB (10^7-10^8 items);
        # this is the same plan with zero driver materialization.
        V = (
            ratings.select(F.col("i").alias("id"))
            .distinct()
            .select(
                "id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(ALS_F - 1)),
                    lambda j: (
                        (F.col("id") * F.lit(2654435761) + j * F.lit(40503))
                        % 1000
                    )
                    / 1000.0
                    + 0.1,
                ).alias("f"),
            )
        )
        U = None
        for _ in range(ALS_SWEEPS):
            U = _als_solve_side(ratings, V, key="u", other="i")
            V = _als_solve_side(ratings, U, key="i", other="u")
        uf = U.select(F.col("id").alias("u"), F.col("f").alias("uf"))
        vf = V.select(F.col("id").alias("i"), F.col("f").alias("vf"))
        pred = F.aggregate(
            F.zip_with("uf", "vf", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        rmse = (
            ratings.join(uf, "u")
            .join(vf, "i")
            .agg(F.sqrt(F.avg(F.pow(F.col("r") - pred, F.lit(2.0)))).alias("rmse"))
            .collect()[0]["rmse"]
        )
        out_u = U.select(
            F.lit("user").alias("side"),
            "id",
            F.round(F.element_at("f", 1), 6).alias("f0"),
            F.round(F.element_at("f", 2), 6).alias("f1"),
        )
        out_v = V.select(
            F.lit("item").alias("side"),
            "id",
            F.round(F.element_at("f", 1), 6).alias("f0"),
            F.round(F.element_at("f", 2), 6).alias("f1"),
        )
        summary = spark.createDataFrame(
            [("__rmse__", -1, float(round(rmse, 6)), 0.0)],
            "side string, id long, f0 double, f1 double",
        )
        return out_u.unionByName(out_v).unionByName(summary)
    finally:
        ratings.unpersist(blocking=False)


RIDGE_LAMBDA = 10.0


def _ridge_stages() -> list[tuple[str, str]]:
    """Ridge over doubles xx_i_j, xy_i, sx_i, sy, nd: center the
    moments, add the integer lambda (RIDGE_LAMBDA = 10, exactly
    representable) to the diagonal, Cramer 3x3, recover the
    unpenalized intercept."""
    stages = []
    for i in range(3):
        stages.append((f"xbar_{i}", f"sx_{i}/nd"))
    stages.append(("ybar", "sy/nd"))
    for i in range(3):
        for j in range(i, 3):
            stages.append(
                (f"cxx_{i}_{j}", f"xx_{i}_{j} - nd*xbar_{i}*xbar_{j}")
            )
        stages.append((f"cxy_{i}", f"xy_{i} - nd*xbar_{i}*ybar"))
    for i in range(3):
        stages.append((f"mm_{i}", f"cxx_{i}_{i} + 10"))

    def m(i, j):
        if i == j:
            return f"mm_{i}"
        return f"cxx_{min(i, j)}_{max(i, j)}"

    stages += _cramer_stages(3, m, lambda i: f"cxy_{i}")
    stages.append(
        ("icept", "ybar - ((b0*xbar_0 + b1*xbar_1) + b2*xbar_2)")
    )
    return stages


def _ridge_oracle() -> str:
    sums = ["CAST(count(*) AS BIGINT) AS n",
            "sum(CAST(yc AS HUGEINT)) AS syi"]
    prep = ["CAST(n AS DOUBLE) AS nd",
            "CAST(syi AS DOUBLE) / CAST(100 AS DOUBLE) AS sy"]
    for i in range(3):
        u = f"u{i + 1}"
        sums.append(f"sum(CAST({u} AS HUGEINT)) AS sxi_{i}")
        sums.append(f"sum(CAST({u} AS HUGEINT) * yc) AS xyi_{i}")
        prep.append(f"CAST(sxi_{i} AS DOUBLE) / CAST(100 AS DOUBLE) AS sx_{i}")
        prep.append(
            f"CAST(xyi_{i} AS DOUBLE) / CAST(10000 AS DOUBLE) AS xy_{i}"
        )
        for j in range(i, 3):
            sums.append(
                f"sum(CAST({u} AS HUGEINT) * u{j + 1}) AS xxi_{i}_{j}"
            )
            prep.append(
                f"CAST(xxi_{i}_{j} AS DOUBLE) / CAST(10000 AS DOUBLE)"
                f" AS xx_{i}_{j}"
            )
    ctes, last = _stage_ctes(_ridge_stages(), "vals")
    r6 = _round_sql(6)
    outs = [f"SELECT 'intercept' AS term, {r6.format(x='icept')} AS value"
            f" FROM {last}"] + [
        f"SELECT '{t}', {r6.format(x=f'b{k}')} FROM {last}"
        for k, t in enumerate(OLS_FEATURES)
    ]
    body = "\n    UNION ALL\n    ".join(outs)
    return f"""
    WITH {_OLS_UNIT_SQL.strip()},
    vals_i AS MATERIALIZED (
      SELECT {", ".join(sums)}
      FROM units
    ),
    vals AS MATERIALIZED (
      SELECT {", ".join(prep)}
      FROM vals_i
    ),
    {ctes}
    {body}
    """


@register("ml_ridge_closed_form", oracle=_ridge_oracle())
def ml_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (L2, lambda=10) in closed form from the SAME
    one-pass sufficient statistics as ml_ols_normal_equations: center
    the moment matrices on the driver (Sxx_c = X'X − n·x̄x̄'), solve
    (Sxx_c + λI) b = Sxy_c so the intercept is NOT penalized (the
    textbook parameterization), recover intercept = ȳ − b·x̄.

    Scale shape identical to OLS: one partial-combinable aggregate of
    O(d²) numbers, a d×d driver solve, no second scan — regularization
    is free at 100 TB because it only perturbs the driver-side linear
    system. tests/test_ml.py pins coefficients against a direct numpy
    ridge solve and checks shrinkage toward zero vs the OLS fit.

    ORACLED (r11 — the OLS shared-expression precedent): exact integer
    moments in 1e-2 units, centering + lambda + Cramer 3x3 through
    _ridge_stages strings shared verbatim with the oracle's CTE chain
    — bit-exact across engines (lambda = 10 is an integer literal,
    exactly representable on both)."""
    li = load_table(spark, sf_dir, "lineitem")
    units = li.select(
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("u1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("u2"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("u3"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("yc"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(yc AS DECIMAL(38,0))")).alias("syi"),
    ]
    for i in range(3):
        u = f"u{i + 1}"
        aggs.append(F.sum(F.expr(f"CAST({u} AS DECIMAL(38,0))")).alias(f"sxi_{i}"))
        aggs.append(
            F.sum(F.expr(f"CAST({u} AS DECIMAL(38,0)) * yc")).alias(f"xyi_{i}")
        )
        for j in range(i, 3):
            aggs.append(
                F.sum(F.expr(f"CAST({u} AS DECIMAL(38,0)) * u{j + 1}")).alias(
                    f"xxi_{i}_{j}"
                )
            )
    row = units.agg(*aggs).collect()[0]
    ns = {"nd": float(int(row["n"])), "sy": int(row["syi"]) / 100.0}
    for i in range(3):
        ns[f"sx_{i}"] = int(row[f"sxi_{i}"]) / 100.0
        ns[f"xy_{i}"] = int(row[f"xyi_{i}"]) / 10000.0
        for j in range(i, 3):
            ns[f"xx_{i}_{j}"] = int(row[f"xxi_{i}_{j}"]) / 10000.0
    ns = _eval_stages(_ridge_stages(), ns)
    out = [("intercept", _round6_floor(ns["icept"]))] + [
        (t, _round6_floor(ns[f"b{k}"])) for k, t in enumerate(OLS_FEATURES)
    ]
    return local_frame(spark, out, "term string, value double")


@register(
    "ml_isotonic_pava",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT l_returnflag AS g, l_quantity AS x,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cs,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    pref AS MATERIALIZED (
      SELECT g, x,
             CAST(row_number() OVER pw AS BIGINT) AS rn,
             CAST(sum(cs) OVER cw AS BIGINT) AS sc,
             CAST(sum(w) OVER cw AS BIGINT) AS sw,
             w
      FROM pts
      WINDOW pw AS (PARTITION BY g ORDER BY x),
             cw AS (PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING)
    ),
    pref0 AS MATERIALIZED (
      SELECT g, rn, sc, sw FROM pref
      UNION ALL
      SELECT DISTINCT g, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT) FROM pref
    ),
    ivals AS MATERIALIZED (
      -- interval [j..k] mean, cents per unit weight, one exact
      -- int->double cast per factor (mirrors the driver's
      -- float(c)/float(w))
      SELECT hi.g, lo.rn + 1 AS j, hi.rn AS k,
             CAST(hi.sc - lo.sc AS DOUBLE)
               / CAST(hi.sw - lo.sw AS DOUBLE) AS m
      FROM pref hi JOIN pref0 lo
        ON lo.g = hi.g AND lo.rn < hi.rn
    ),
    mins AS MATERIALIZED (
      SELECT v.g, v.j, p.rn AS i, min(v.m) AS minv
      FROM ivals v JOIN pref p
        ON p.g = v.g AND v.j <= p.rn AND v.k >= p.rn
      GROUP BY 1, 2, 3
    ),
    fit AS MATERIALIZED (
      SELECT g, i, max(minv) AS fitc FROM mins GROUP BY 1, 2
    )
    SELECT p.g AS l_returnflag, p.x AS l_quantity,
           floor((f.fitc / CAST(100 AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(1000000 AS DOUBLE) AS fitted,
           p.w AS n
    FROM fit f JOIN pref p ON p.g = f.g AND p.rn = f.i
    """,
)
def ml_isotonic_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (PAVA — pool-adjacent-violators) of
    mean extended price as a non-decreasing function of quantity, per
    returnflag: the monotone-calibration primitive (same algorithm that
    calibrates classifier scores).

    Scale shape — PRE-AGGREGATE, then pool: the corpus first collapses
    to (group, x) -> (weighted mean y, weight) in one
    partial-combinable aggregate, so PAVA's inherently-sequential pass
    runs on |distinct x| points per group (here ~50, Zipf-bounded in
    practice), inside applyInPandas per group — never on raw rows.
    That ordering-dependent pooling can't distribute further is
    fundamental (isotonic fit is a global property of the sequence);
    bounding its input is the correct 100 TB answer.

    ORACLED (r11, upgraded from rows-only): the pooling now runs on
    EXACT integer (cent-sum, weight) accumulators with violation tests
    as integer cross-multiplications — no float ever decides a merge —
    and each block's fitted value is one float(cents)/float(weight)
    division (+ /100). The DuckDB twin computes the IDENTICAL fit
    through the minimax identity fit_i = max_{{j<=i}} min_{{k>=i}}
    mean(y[j..k]) (the L2 isotonic projection is unique, so the two
    algorithms agree exactly): interval means are the same
    exact-int-to-double divisions, and min/max over doubles preserves
    the rational ordering (rounding is monotone), so the selected
    value IS the PAVA block mean bit-for-bit. The O(n^3) interval
    expansion is oracle-only cost on the <=50-point domain.
    tests/test_ml.py still pins the fit against an independent O(n^2)
    reference PAVA with monotonicity + weighted-mean preservation."""
    import math

    import pandas as pd

    def pava(key, pdf):
        pdf = pdf.sort_values("x").reset_index(drop=True)
        cs = [int(v) for v in pdf["cs"]]
        ws = [int(v) for v in pdf["w"]]
        blocks: list = []  # [sum_cents, sum_w, count] — exact integers
        for c, w_ in zip(cs, ws):
            blocks.append([c, w_, 1])
            while len(blocks) > 1 and (
                blocks[-2][0] * blocks[-1][1] > blocks[-1][0] * blocks[-2][1]
            ):
                b = blocks.pop()
                blocks[-1][0] += b[0]
                blocks[-1][1] += b[1]
                blocks[-1][2] += b[2]
        fitted = []
        for c, w_, cnt in blocks:
            # explicit int->double conversions BEFORE the division —
            # mirrors the oracle's CAST(..)/CAST(..) (an exact-rational
            # division would diverge once sums pass 2^53)
            m = (float(c) / float(w_)) / 100.0
            fitted.extend([math.floor(m * 1000000.0 + 0.5) / 1000000.0] * cnt)
        return pd.DataFrame(
            {
                "l_returnflag": key[0],
                "l_quantity": pdf["x"],
                "fitted": fitted,
                "n": pdf["w"].astype("int64"),
            }
        )

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.groupBy(
        F.col("l_returnflag"), F.col("l_quantity").alias("x")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cs"),
        F.count(F.lit(1)).cast("long").alias("w"),
    )
    return pts.groupBy("l_returnflag").applyInPandas(
        pava, "l_returnflag string, l_quantity double, fitted double, n long"
    )


FD_SKETCH_L = 16
FD_TOP = 5


def _fd_shrink(B, ell):
    """One Frequent-Directions shrink: SVD of the stacked rows, subtract
    the ell-th squared singular value from every direction's energy,
    keep the surviving ell-1 directions (Liberty KDD'13)."""
    import numpy as np

    _, s, Vt = np.linalg.svd(B, full_matrices=False)
    if len(B) <= ell and len(s) < ell:
        return B
    # when rank < ell (d < ell edge case) shrink by the smallest singular
    # value instead of skipping — otherwise a tall thin B never compresses
    delta = s[min(ell, len(s)) - 1] ** 2
    s2 = np.sqrt(np.maximum(s**2 - delta, 0.0))
    keep = s2 > 0
    return (s2[keep, None] * Vt[keep])


@register("ml_frequent_directions", oracle=None, tags={"rows_only"})
def ml_frequent_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions matrix sketch of the embedding corpus
    (Liberty KDD'13): a deterministic, MERGEABLE l×d sketch B with the
    covariance guarantee ‖AᵀA − BᵀB‖₂ ≤ ‖A‖F²/(l/2) — streaming PCA's
    workhorse when even the d×d covariance is too big or you want
    per-segment sketches you can union later (the same reusable-state
    argument as agg_tdigest_quantiles, but for second moments).

    Two-level plan: every partition folds its rows into an l×d sketch
    via buffered SVD shrinks (Arrow kernel — dense linear algebra does
    not belong in codegen), one merge task stacks the partial sketches
    and shrinks once more, then reports the top-5 sketched singular
    values. Shuffled state: l·d floats per partition, corpus-
    independent. Merge order affects low-order bits (SVD), so the op is
    rows-only; tests/test_ml.py pins the FD spectral guarantee against
    the EXACT covariance and cross-checks the top singular values
    against ml_pca_covariance's eigenvalues."""
    import numpy as np
    import pandas as pd

    ell = FD_SKETCH_L

    def partial(batches):
        B = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            B = X if B is None else np.vstack([B, X])
            if len(B) >= 4 * ell:
                B = _fd_shrink(B, ell)
        if B is not None:
            B = _fd_shrink(B, ell) if len(B) > ell else B
            yield pd.DataFrame({"row": list(range(len(B))), "v": list(B)})

    def merge(key, pdf):
        B = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        B = _fd_shrink(B, ell)
        s = np.linalg.svd(B, compute_uv=False)
        top = s[:FD_TOP]
        return pd.DataFrame(
            {
                "component": list(range(1, len(top) + 1)),
                "singular_value": np.round(top, 4),
            }
        )

    emb = load_table(spark, sf_dir, "embeddings")
    partials = emb.select("embedding").mapInPandas(
        partial, "row int, v array<double>"
    )
    return partials.groupBy(F.lit(1).alias("g")).applyInPandas(
        merge, "component int, singular_value double"
    )


KFOLDS = 5


@register(
    "ml_kfold_split",
    oracle=f"""
    WITH assigned AS (
      SELECT o_orderkey, o_totalprice,
             CAST(strpos('0123456789abcdef',
                    substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1
                  AS BIGINT) % {KFOLDS} AS fold
      FROM orders
    )
    SELECT fold,
           CAST(count(*) AS BIGINT)        AS n,
           round(avg(o_totalprice), 4)     AS mean_target,
           round(stddev_samp(o_totalprice), 4) AS sd_target
    FROM assigned GROUP BY fold
    """,
)
def ml_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment by content hash
    (first md5 nibble mod k) with per-fold target statistics — the CV
    harness primitive: folds are reproducible on any cluster, any
    partitioning, any rerun (no global shuffle-split state), and a new
    row joins its fold without re-splitting the world — the property
    that matters when the training table is rebuilt daily at 100 TB.

    The per-fold stats double as a split-quality check (folds should
    agree in mean/sd — gross imbalance means the hash key correlates
    with the target). One narrow map + one |k|-row aggregate."""
    od = load_table(spark, sf_dir, "orders")
    nib = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1),
        )
        - 1
    ).cast("bigint")
    return (
        od.select("o_totalprice", (nib % KFOLDS).alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("mean_target"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_target"),
        )
    )


def _langid_guess_sql() -> str:
    """The text_langid decision rule as a SQL CASE (shared profiles)."""
    from go_batch_processor_spark.operators.text import _profile_score_sql

    en = _profile_score_sql("w", "en")
    de = _profile_score_sql("w", "de")
    es = _profile_score_sql("w", "es")
    return f"""
      CASE WHEN {en} >= {de} AND {en} >= {es} AND {en} > 0 THEN 'en'
           WHEN {de} >= {es} AND {de} > 0 THEN 'de'
           WHEN {es} > 0 THEN 'es'
           ELSE 'unknown' END
    """


def _confusion_oracle() -> str:
    return f"""
    WITH t0 AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
    pred AS (SELECT lang AS truth, {_langid_guess_sql()} AS guess FROM t0),
    cells AS (
      SELECT truth, guess, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    t AS (SELECT truth AS class, CAST(sum(n) AS BIGINT) AS n_true
          FROM cells GROUP BY 1),
    p AS (SELECT guess AS class, CAST(sum(n) AS BIGINT) AS n_pred
          FROM cells GROUP BY 1),
    d AS (SELECT truth AS class, CAST(sum(n) AS BIGINT) AS tp
          FROM cells WHERE truth = guess GROUP BY 1),
    per AS (
      SELECT coalesce(t.class, p.class) AS class,
             CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
             CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
             CAST(coalesce(d.tp, 0) AS BIGINT)     AS tp
      FROM t FULL OUTER JOIN p ON t.class = p.class
      LEFT JOIN d ON coalesce(t.class, p.class) = d.class
    )
    SELECT class, n_true, n_pred, tp,
           round(CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred END, 6)
             AS precision,
           round(CASE WHEN n_true > 0 THEN tp * 1.0 / n_true END, 6)
             AS recall,
           round(CASE WHEN n_pred > 0 AND n_true > 0 THEN
                   CASE WHEN tp > 0 THEN
                     2.0 * (tp * 1.0 / n_pred) * (tp * 1.0 / n_true)
                       / (tp * 1.0 / n_pred + tp * 1.0 / n_true)
                   ELSE 0.0 END
                 END, 6) AS f1,
           round(sum(tp) OVER () * 1.0 / sum(n_true) OVER (), 6) AS accuracy
    FROM per ORDER BY class
"""


@register(
    "ml_confusion_metrics",
    oracle=_confusion_oracle(),
)
def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class confusion-matrix metrics (precision / recall / F1 +
    overall accuracy) of the text_langid heuristic against the labeled
    lang column — the eval table every classifier pipeline ends with.
    Classes = union of true and predicted labels, so classes the model
    never predicts (fr, zh here) still appear with recall 0 — the
    failure mode a predicted-classes-only report silently hides.

    Scale shape: prediction is a stateless per-row projection; the
    confusion matrix is ONE partial-combinable groupBy to ≤|classes|²
    cells; truth/prediction marginals and the diagonal are three tiny
    aggregates of those cells, stitched with a full outer join on the
    class label; accuracy is a window over the ≤|classes|-row output.
    Integer counts throughout — exact parity at any partitioning.
    """
    from go_batch_processor_spark.operators.text import LANG_PROFILES

    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")

    def score(lang: str) -> Column:
        return F.size(F.filter(w, lambda x: x.isin(*LANG_PROFILES[lang]))).cast(
            "long"
        )

    s_en, s_de, s_es = score("en"), score("de"), score("es")
    guess = (
        F.when((s_en >= s_de) & (s_en >= s_es) & (s_en > 0), "en")
        .when((s_de >= s_es) & (s_de > 0), "de")
        .when(s_es > 0, "es")
        .otherwise("unknown")
    )
    cells = (
        d.select(F.col("lang").alias("truth"), guess.alias("guess"))
        .groupBy("truth", "guess")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = cells.groupBy(F.col("truth").alias("class")).agg(
        F.sum("n").cast("bigint").alias("n_true")
    )
    p = cells.groupBy(F.col("guess").alias("class")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    diag = (
        cells.filter(F.col("truth") == F.col("guess"))
        .groupBy(F.col("truth").alias("class"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    # full_outer cannot broadcast, but the frames are ≤|classes| rows —
    # the left_outer diag join can and should.
    per = (
        t.join(p, "class", "full_outer")
        .join(F.broadcast(diag), "class", "left_outer")
        .select(
            "class",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    w_all = Window.partitionBy()
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") * 1.0 / F.col("n_pred")
    )
    rec = F.when(F.col("n_true") > 0, F.col("tp") * 1.0 / F.col("n_true"))
    f1 = F.when(
        (F.col("n_pred") > 0)
        & (F.col("n_true") > 0)
        & (F.col("tp") > 0),
        2.0
        * (F.col("tp") * 1.0 / F.col("n_pred"))
        * (F.col("tp") * 1.0 / F.col("n_true"))
        / (F.col("tp") * 1.0 / F.col("n_pred") + F.col("tp") * 1.0 / F.col("n_true")),
    ).otherwise(
        F.when((F.col("n_pred") > 0) & (F.col("n_true") > 0), 0.0)
    )
    return per.select(
        "class",
        "n_true",
        "n_pred",
        "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(
            F.sum("tp").over(w_all) * 1.0 / F.sum("n_true").over(w_all), 6
        ).alias("accuracy"),
    ).orderBy("class")


THRESH_STEPS = 19  # thresholds 0.05 .. 0.95


@register(
    "ml_threshold_tuning",
    oracle=f"""
    WITH scored AS (
      SELECT o_totalprice / (o_totalprice + 150000.0) AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    grid AS (
      SELECT (i.i + 1) * 0.05 AS thr
      FROM (SELECT unnest(range({THRESH_STEPS})) AS i) i
    ),
    cells AS (
      SELECT g.thr,
             CAST(sum(CASE WHEN s.p >= g.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.p >= g.thr AND s.y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.p < g.thr AND s.y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored s, grid g
      GROUP BY g.thr
    )
    SELECT CAST(round(thr, 2) AS DOUBLE) AS threshold, tp, fp, fn,
           round(CASE WHEN tp + fp > 0
                      THEN tp * 1.0 / (tp + fp) END, 6) AS precision,
           round(CASE WHEN tp + fn > 0
                      THEN tp * 1.0 / (tp + fn) END, 6) AS recall,
           round(CASE WHEN 2 * tp + fp + fn > 0
                      THEN 2.0 * tp / (2 * tp + fp + fn) END, 6) AS f1
    FROM cells
    ORDER BY threshold
    """,
)
def ml_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold sweep for a probabilistic classifier: the
    full precision/recall/F1 curve over a {THRESH_STEPS}-point
    threshold grid (same deterministic stand-in model as
    ml_calibration_ece) — the table you read the operating point off
    before shipping a binary decision rule; argmax-F1 is row 1 of an
    ORDER BY f1 DESC over this output.

    Scale shape: the grid rides a broadcast cross (each row evaluates
    all {THRESH_STEPS} thresholds map-side), and the entire sweep is
    ONE partial-combinable groupBy producing {THRESH_STEPS}×3 integer
    cells — one scan for the whole curve, vs the naive
    one-filter-per-threshold loop's {THRESH_STEPS} scans. F1 uses the
    2tp/(2tp+fp+fn) form: integer arithmetic until the final division.
    """
    od = load_table(spark, sf_dir, "orders")
    scored = od.select(
        (F.col("o_totalprice") / (F.col("o_totalprice") + 150000.0)).alias("p"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    grid = spark.range(THRESH_STEPS).select(
        ((F.col("id") + 1) * 0.05).alias("thr")
    )
    hit = F.col("p") >= F.col("thr")
    cells = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when(~hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return cells.select(
        F.round("thr", 2).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.round(F.when(tp + fp > 0, tp * 1.0 / (tp + fp)), 6).alias("precision"),
        F.round(F.when(tp + fn > 0, tp * 1.0 / (tp + fn)), 6).alias("recall"),
        F.round(
            F.when(2 * tp + fp + fn > 0, 2.0 * tp / (2 * tp + fp + fn)), 6
        ).alias("f1"),
    ).orderBy("threshold")


@register(
    "ml_brier_decomposition",
    oracle="""
    WITH scored AS (
      SELECT o_totalprice / (o_totalprice + 150000.0) AS p,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(y)                   AS ybar,
             avg((p - y) * (p - y))   AS brier
      FROM scored
    ),
    cells AS (
      SELECT least(9, CAST(floor(p * 10.0) AS BIGINT)) AS bin,
             CAST(count(*) AS BIGINT) AS nb,
             avg(p) AS conf,
             avg(y) AS acc
      FROM scored GROUP BY 1
    ),
    decomp AS (
      SELECT sum(nb * (conf - acc) * (conf - acc)) AS rel_num,
             sum(nb * (acc - b.ybar) * (acc - b.ybar)) AS res_num,
             any_value(b.n) AS n, any_value(b.ybar) AS ybar,
             any_value(b.brier) AS brier
      FROM cells, base b
    )
    SELECT n,
           round(brier, 6)                     AS brier_score,
           round(rel_num / n, 6)               AS reliability,
           round(res_num / n, 6)               AS resolution,
           round(ybar * (1.0 - ybar), 6)       AS uncertainty
    FROM decomp
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy (1973) three-term decomposition:
    Brier ≈ reliability − resolution + uncertainty over the same
    10-bin partition as ml_calibration_ece. The proper-scoring-rule
    view ECE alone cannot give: reliability is the calibration error
    (lower better), resolution is the discrimination the model earns
    (higher better), uncertainty is the irreducible base-rate floor —
    so two equally-calibrated models are separated by resolution. Same
    deterministic rational-link stand-in model, so the whole family
    (ECE, threshold sweep, Brier) reads off ONE model's behavior.

    Scale shape: two partial-combinable aggregates over the scan (the
    global moments and the ≤10 bin cells) joined on a 1-row broadcast;
    every term is closed-form on ≤10 rows. The binned decomposition's
    within-bin variance term is the (small) gap between brier_score and
    rel − res + unc — reported raw so the identity can be checked.
    """
    od = load_table(spark, sf_dir, "orders")
    scored = od.select(
        (F.col("o_totalprice") / (F.col("o_totalprice") + 150000.0)).alias("p"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    base = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("y").alias("ybar"),
        F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias(
            "brier"
        ),
    )
    cells = scored.groupBy(
        F.least(F.lit(9), F.floor(F.col("p") * 10.0).cast("bigint")).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    decomp = cells.crossJoin(F.broadcast(base)).agg(
        F.sum(
            F.col("nb")
            * (F.col("conf") - F.col("acc"))
            * (F.col("conf") - F.col("acc"))
        ).alias("rel_num"),
        F.sum(
            F.col("nb")
            * (F.col("acc") - F.col("ybar"))
            * (F.col("acc") - F.col("ybar"))
        ).alias("res_num"),
        F.first("n").alias("n"),
        F.first("ybar").alias("ybar"),
        F.first("brier").alias("brier"),
    )
    return decomp.select(
        "n",
        F.round("brier", 6).alias("brier_score"),
        F.round(F.col("rel_num") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_num") / F.col("n"), 6).alias("resolution"),
        F.round(F.col("ybar") * (1.0 - F.col("ybar")), 6).alias("uncertainty"),
    )


QR_TAUS = (0.5, 0.9)  # quantile levels: median (LAD) and P90 regression
QR_ITERS = 40  # tau=0.9 needs ~30-40 reweightings to reach its quantile
QR_EPS = 1e-6  # residual floor in the IRLS weight (Huber-style guard)


@register("ml_quantile_regression", tags={"rows_only"})
def ml_quantile_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quantile regression (Koenker & Bassett 1978) of
    l_extendedprice on [1, quantity] at tau = {0.5, 0.9} via IRLS on
    the pinball loss: weights w_i = tau/max(|r_i|, eps) for positive
    residuals, (1-tau)/max(|r_i|, eps) otherwise, then a weighted
    normal-equations solve — median (LAD) regression is the
    outlier-robust companion to ml_ols_normal_equations, P90 the
    tail-cost estimator a capacity planner wants.

    Scale shape: EXACTLY the ml_logreg_irls pattern — per iteration ONE
    whole-stage-codegen aggregate with the current beta inlined as
    literals collects X'WX (d(d+1)/2 sums) and X'Wy (d sums); the 2x2
    solve is driver-local; zero Python in the data path;
    iters x taus scans over the persisted 2-column projection.

    Rows-only (iterative driver solve); tests pin the defining
    properties rather than a same-algorithm twin: the pinball loss of
    each fit beats the OLS fit's pinball loss at its tau, and the
    signed-residual split matches tau.
    """
    import numpy as np

    from go_batch_processor_spark.spread import _spread

    # _spread before persist (r9): the row-group-bound scan caches as
    # 1-2 partitions, so every one of the iters x taus aggregate jobs
    # ran at parallelism 2 — the iteration LATENCY, not the math, was
    # the cost (15.5 -> ~3 s at sf0.1).
    li = (
        _spread(
            load_table(spark, sf_dir, "lineitem").select(
                "l_extendedprice", "l_quantity"
            )
        )
        .persist()
    )
    y = F.col("l_extendedprice")
    cols = [F.lit(1.0), F.col("l_quantity")]
    d = len(cols)
    out = []
    try:
        # OLS warm start (w = 1): IRLS on the pinball loss from beta = 0
        # converges to a poor fixed point (the 1/|r| weights of the cold
        # start upweight whatever the zero line happens to pass near);
        # from the OLS solution the reweighting descends properly.
        aggs0 = [F.sum(cols[i] * y).alias(f"b_{i}") for i in range(d)]
        for i in range(d):
            for j in range(i, d):
                aggs0.append(F.sum(cols[i] * cols[j]).alias(f"a_{i}_{j}"))
        row0 = li.agg(*aggs0).collect()[0]
        A0 = np.empty((d, d))
        for i in range(d):
            for j in range(i, d):
                A0[i, j] = A0[j, i] = row0[f"a_{i}_{j}"]
        beta_ols = np.linalg.solve(A0, np.array([row0[f"b_{i}"] for i in range(d)]))
        # r9 job-count cut: (a) both taus iterate in LOCKSTEP inside ONE
        # aggregate per step (the per-tau recursions never interact, so
        # the sequences are identical to the nested-loop form; each job
        # compiles once instead of twice — provably output-identical);
        # (b) a tau stops early once its step falls below 1e-12
        # RELATIVE (see the stop-condition comment below). (b) is
        # approximate, not a bit-exact fixed point: a result sitting
        # exactly on a round(...,6) boundary could in principle flip vs
        # running all 40 steps, which is why the pinned test checks
        # DEFINING properties (pinball-loss optimality, residual-share
        # first-order condition) rather than an iterate-for-iterate
        # twin (r10 ADVICE). 80 driver jobs -> ~40 or fewer;
        # per-iteration codegen compile was the latency, not the scan.
        def _xb(beta):
            e = F.lit(float(beta[0]))
            for i in range(1, d):
                e = e + F.lit(float(beta[i])) * cols[i]
            return e

        betas = {tau: beta_ols.copy() for tau in QR_TAUS}
        done = {tau: False for tau in QR_TAUS}
        for _ in range(QR_ITERS):
            aggs = []
            live = [tau for tau in QR_TAUS if not done[tau]]
            if not live:
                break
            for tau in live:
                t = str(tau).replace(".", "")
                r = y - _xb(betas[tau])
                absr = F.greatest(F.abs(r), F.lit(QR_EPS))
                w = (
                    F.when(r > 0, F.lit(float(tau))).otherwise(
                        F.lit(float(1.0 - tau))
                    )
                    / absr
                )
                aggs += [
                    F.sum(w * cols[i] * y).alias(f"b_{t}_{i}") for i in range(d)
                ]
                for i in range(d):
                    for j in range(i, d):
                        aggs.append(
                            F.sum(w * cols[i] * cols[j]).alias(f"a_{t}_{i}_{j}")
                        )
            row = li.agg(*aggs).collect()[0]
            for tau in live:
                t = str(tau).replace(".", "")
                A = np.empty((d, d))
                for i in range(d):
                    for j in range(i, d):
                        A[i, j] = A[j, i] = row[f"a_{t}_{i}_{j}"]
                b = np.array([row[f"b_{t}_{i}"] for i in range(d)])
                new = np.linalg.solve(A, b)
                # Stop when the step is below 1e-12 RELATIVE — the
                # outputs are rounded to 6 decimals, so sub-1e-12
                # wander cannot change any emitted value; the exact
                # fixed point rarely arrives because LAD IRLS orbits
                # within float noise near convergence.
                if np.all(
                    np.abs(new - betas[tau])
                    <= 1e-12 * np.maximum(np.abs(new), 1.0)
                ):
                    done[tau] = True
                betas[tau] = new
        # converged pinball losses for BOTH taus, one aggregate
        stat_aggs = []
        for tau in QR_TAUS:
            t = str(tau).replace(".", "")
            r = y - _xb(betas[tau])
            pinball = F.when(r > 0, F.lit(float(tau)) * r).otherwise(
                F.lit(float(tau - 1.0)) * r
            )
            stat_aggs += [
                F.avg(pinball).alias(f"loss_{t}"),
                F.avg(F.when(r < 0, 1.0).otherwise(0.0)).alias(f"neg_{t}"),
            ]
        stats = li.agg(*stat_aggs).collect()[0]
        for tau in QR_TAUS:
            t = str(tau).replace(".", "")
            beta = betas[tau]
            out += [
                (f"tau{t}_intercept", float(round(beta[0], 6))),
                (f"tau{t}_slope", float(round(beta[1], 6))),
                (f"tau{t}_pinball_loss", float(round(stats[f"loss_{t}"], 6))),
                (f"tau{t}_neg_resid_share", float(round(stats[f"neg_{t}"], 6))),
            ]
    finally:
        li.unpersist(blocking=False)
    return local_frame(spark, out, "term string, value double")


IFOREST_TREES = 50
IFOREST_PSI = 256  # per-tree subsample (Liu et al.'s standard psi)
IFOREST_FEATURES = ["l_quantity", "l_extendedprice", "l_discount"]
IFOREST_TOP_K = 20


def _iforest_c(n: float) -> float:
    """Average unsuccessful-search path length of a BST of n nodes —
    the iForest normalizer c(n) (Liu, Ting & Zhou 2008, eq. 1)."""
    import math

    if n <= 1.0:
        return 0.0
    return 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n


def _iforest_build(sample, n_trees: int, psi: int, seed: int):
    """Grow an isolation forest on a driver-side (psi-bounded) sample:
    each tree takes a seeded random psi-subset and splits on a uniform
    random (feature, threshold) until isolation or the log2(psi) depth
    cap. Pure-python, deterministic via the seeded Random instance.
    Trees serialize as flat dicts of lists (closure-friendly for the
    Arrow scorer)."""
    import math
    import random

    rng = random.Random(seed)
    n, d = sample.shape
    depth_cap = max(1, math.ceil(math.log2(max(2, psi))))
    trees = []
    for _ in range(n_trees):
        idx = [rng.randrange(n) for _ in range(min(psi, n))]
        feat, thr, left, right, leaf_n = [], [], [], [], []

        def grow(rows, depth):
            node = len(feat)
            feat.append(-1)
            thr.append(0.0)
            left.append(-1)
            right.append(-1)
            leaf_n.append(0)
            spreads = [
                (j, min(sample[r][j] for r in rows), max(sample[r][j] for r in rows))
                for j in range(d)
            ]
            spreads = [(j, lo, hi) for j, lo, hi in spreads if hi > lo]
            if depth >= depth_cap or len(rows) <= 1 or not spreads:
                leaf_n[node] = len(rows)
                return node
            j, lo, hi = spreads[rng.randrange(len(spreads))]
            t = rng.uniform(lo, hi)
            l_rows = [r for r in rows if sample[r][j] < t]
            r_rows = [r for r in rows if sample[r][j] >= t]
            if not l_rows or not r_rows:
                leaf_n[node] = len(rows)
                return node
            feat[node] = j
            thr[node] = t
            left[node] = grow(l_rows, depth + 1)
            right[node] = grow(r_rows, depth + 1)
            return node

        grow(idx, 0)
        trees.append(
            {"feat": feat, "thr": thr, "left": left, "right": right, "leaf_n": leaf_n}
        )
    return trees


def _iforest_score_pdf(X, trees, psi: int):
    """Vectorized-enough scorer: per tree, walk every row down the flat
    tree with index arrays (depth-capped loop, no per-row Python
    recursion); anomaly score = 2^(-avg_path/c(psi)).

    r14 (guide §4.2 — vectorize the per-batch work): two per-batch
    Python costs removed, value-identical. (a) The leaf normalizer ran
    ``_iforest_c(float(k))`` in a PYTHON list comprehension per ROW per
    TREE — rows x trees = 30M interpreter calls per sf0.1 pass; leaf
    sizes are bounded by psi, so a (psi+1)-entry lookup table built once
    per call indexes the identical doubles (same function, same float
    inputs). (b) The five flat-tree lists were re-converted to numpy
    per BATCH per TREE; the converted arrays are memoized on the tree
    dict, which each Python worker mutates locally once per task."""
    import numpy as np

    n = X.shape[0]
    total = np.zeros(n)
    np_trees = []
    leaf_max = psi  # leaf sizes are bounded by the per-tree sample (<= psi)
    for t in trees:
        np_t = t.get("_np")
        if np_t is None:
            np_t = tuple(
                np.asarray(t[k])
                for k in ("feat", "thr", "left", "right", "leaf_n")
            )
            t["_np"] = np_t
        np_trees.append(np_t)
        if len(np_t[4]):
            leaf_max = max(leaf_max, int(np_t[4].max()))
    c_table = np.array([_iforest_c(float(k)) for k in range(leaf_max + 1)])
    for feat, thr, left, right, leaf_n in np_trees:
        node = np.zeros(n, dtype=np.int64)
        depth = np.zeros(n)
        # walk only the still-active row subset per level (r14): the old
        # loop recomputed full-length boolean masks and repeated the
        # node[active] gather 4x per level; tracking the active index
        # vector shrinks every per-level gather to the surviving rows.
        idx = np.flatnonzero(feat[node] >= 0)
        while idx.size:
            cur = node[idx]
            goes_left = X[idx, feat[cur]] < thr[cur]
            nxt = np.where(goes_left, left[cur], right[cur])
            node[idx] = nxt
            depth[idx] += 1
            idx = idx[feat[nxt] >= 0]
        total += depth + c_table[leaf_n[node]]
    avg = total / len(trees)
    return 2.0 ** (-avg / _iforest_c(float(psi)))


@register("ml_isolation_forest", tags={"rows_only"})
def ml_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation forest anomaly detection (Liu, Ting & Zhou 2008) over
    lineitem (quantity, price, discount): the standard ML outlier
    screen beyond the z-score family (analytics_anomaly_zscore /
    robust_zscore_mad are univariate; CUSUM is sequential) — isolation
    depth captures MULTIVARIATE rarity with no distributional
    assumption. Returns the top-{IFOREST_TOP_K} most anomalous line
    items.

    Scale shape — the iForest contract is exactly the bounded-
    sufficient-stats idiom: training NEVER sees the corpus (the
    algorithm is DEFINED on psi={IFOREST_PSI}-row subsamples; one
    deterministic hash-ordered 4*psi-row collect feeds all
    {IFOREST_TREES} seeded trees), and scoring streams the full table
    through an Arrow mapInPandas-class kernel with the flat trees in
    closure — index-array traversal per batch, no per-row Python, no
    shuffle until the final top-k (TakeOrderedAndProject). Deterministic
    end-to-end: hash-ordered sample, seeded Random, IEEE scoring.

    Rows-only; tests/test_ml.py isolates a manufactured far-outlier
    with the same helpers and pins score range/determinism (property
    tests — a same-code twin would be circular).
    """
    import numpy as np
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *IFOREST_FEATURES
    )
    # deterministic psi*4 sample: hash-order on the stable key pair
    srows = (
        li.withColumn(
            "_h", F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber"))
        )
        .orderBy("_h")
        .limit(IFOREST_PSI * 4)
        .collect()
    )
    sample = np.array(
        [[float(r[f]) for f in IFOREST_FEATURES] for r in srows]
    )
    trees = _iforest_build(sample, IFOREST_TREES, IFOREST_PSI, seed=42)
    feats = list(IFOREST_FEATURES)

    def score_iter(batches):
        for pdf in batches:
            X = pdf[feats].to_numpy(dtype="float64")
            out = pdf[["l_orderkey", "l_linenumber"]].copy()
            out["score"] = _iforest_score_pdf(X, trees, IFOREST_PSI)
            yield out

    # Rebalance ahead of the Python scoring pass: mapInPandas runs at the
    # SCAN's parallelism (row-group-bound — 1-2 tasks on the fixture
    # layout) and the per-row tree walk is Python-priced, the same class
    # as the AQE/applyInPandas finding (timeseries._spread_groups).
    from go_batch_processor_spark.spread import _spread

    scored = _spread(li).mapInPandas(
        score_iter, "l_orderkey long, l_linenumber int, score double"
    )
    return (
        scored.select(
            "l_orderkey",
            "l_linenumber",
            F.round("score", 6).alias("score"),
        )
        .orderBy(
            F.col("score").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(IFOREST_TOP_K)
    )


SVM_LAMBDA = 0.01
SVM_ETA0 = 1.0
SVM_ITERS = 20
SVM_FEATURES = LOGREG_FEATURES  # same raw columns as the logreg sibling
SVM_QTY_SCALE = 50.0  # fixed literal scaling: quantity spans 1..50


def _svm_oracle() -> str:
    """DuckDB twin of ml_linear_svm_gd: the identical subgradient
    descent UNROLLED over the identical (qu, du, tu, y) cell
    compression. The per-iteration subgradient sums are EXACT integers
    in 1e-2 feature units (order-free on both engines), the margin
    indicator evaluates the bit-identical double expression tree, and
    every scalar update mirrors the driver fold — so the trained betas
    are bit-exact, not merely tolerance-close (unlike platt there is no
    libm anywhere). Only the final hinge-loss sum is an order-dependent
    double aggregate, absorbed by the shared floor-round-6
    (the siegel-tukey T/Q determinism class)."""
    s100 = "CAST(100 AS DOUBLE)"
    xb = (
        f"(((p.b0 + p.w1 * (qu / {s100})) + p.w2 * (du / {s100}))"
        f" + p.w3 * (tu / {s100}))"
    )
    lam = "CAST(0.01 AS DOUBLE)"
    steps = []
    prev = "p0"
    for t in range(1, SVM_ITERS + 1):
        eta = f"(CAST(1.0 AS DOUBLE) / {t})"
        ghat = [
            f"(CAST(g.g{i} AS DOUBLE) / ({s100} * m.n))" for i in range(4)
        ]
        steps.append(f"""
    g{t} AS MATERIALIZED (
      SELECT
        CAST(sum(CASE WHEN y * {xb} < CAST(1 AS DOUBLE)
                 THEN y * cnt * 100 ELSE 0 END) AS BIGINT) AS g0,
        CAST(sum(CASE WHEN y * {xb} < CAST(1 AS DOUBLE)
                 THEN y * cnt * qu ELSE 0 END) AS BIGINT) AS g1,
        CAST(sum(CASE WHEN y * {xb} < CAST(1 AS DOUBLE)
                 THEN y * cnt * du ELSE 0 END) AS BIGINT) AS g2,
        CAST(sum(CASE WHEN y * {xb} < CAST(1 AS DOUBLE)
                 THEN y * cnt * tu ELSE 0 END) AS BIGINT) AS g3
      FROM cells, {prev} p
    ),
    p{t} AS MATERIALIZED (
      SELECT p.b0 - {eta} * (- {ghat[0]}) AS b0,
             p.w1 - {eta} * ((- {ghat[1]}) + {lam} * p.w1) AS w1,
             p.w2 - {eta} * ((- {ghat[2]}) + {lam} * p.w2) AS w2,
             p.w3 - {eta} * ((- {ghat[3]}) + {lam} * p.w3) AS w3
      FROM {prev} p, g{t} g, meta m
    )""")
        prev = f"p{t}"
    body = ",".join(steps)
    r6 = _round_sql(6)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(round(l_quantity * 2) AS BIGINT)  AS qu,
             CAST(round(l_discount * 100) AS BIGINT) AS du,
             CAST(round(l_tax * 100) AS BIGINT)      AS tu,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2, 3, 4
    ),
    meta AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
    p0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS w1,
                  CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3),{body},
    hs AS (
      SELECT sum(cnt * greatest(CAST(0 AS DOUBLE),
                                CAST(1 AS DOUBLE) - y * {xb})) AS hsum
      FROM cells, {prev} p
    ),
    obj AS (
      SELECT (hs.hsum / m.n)
             + (CAST(0.5 AS DOUBLE) * {lam})
               * ((p.w1 * p.w1 + p.w2 * p.w2) + p.w3 * p.w3) AS v
      FROM hs, {prev} p, meta m
    )
    SELECT 'intercept' AS term, {r6.format(x='b0')} AS value FROM {prev}
    UNION ALL
    SELECT 'l_quantity_scaled', {r6.format(x='w1')} FROM {prev}
    UNION ALL
    SELECT 'l_discount', {r6.format(x='w2')} FROM {prev}
    UNION ALL
    SELECT 'l_tax', {r6.format(x='w3')} FROM {prev}
    UNION ALL
    SELECT 'objective', {r6.format(x='v')} FROM obj
    """


@register("ml_linear_svm_gd", oracle=_svm_oracle())
def ml_linear_svm_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear SVM trained with deterministic full-batch
    subgradient descent: y(l_returnflag = 'R') ∈ {−1,+1} ~
    sign(b0 + w · [quantity/50, discount, tax]), minimizing
    λ/2·||w||² + mean hinge(y, xb) — the max-margin sibling of
    ml_logreg_irls on the same rows (quantity pre-scaled by the FIXED
    literal 1/50 so one feature doesn't set the step scale for all).

    Each iteration's subgradient is computed over the COMPRESSED cell
    table (UPGRADED r11 — one scan, not 21): features live on bounded
    2-decimal grids (quantity 1..50, discount 0.00-0.10, tax
    0.00-0.08), so the fact table reduces to <= ~10^4
    (qu, du, tu, y, count) cells in ONE partial-combinable groupBy and
    the SVM_ITERS iterations fold over the collected cells driver-side:
    the margin-violator indicator [y·xb < 1] gates per-feature
    subgradient sums kept as EXACT INTEGERS in 1e-2 feature units, and
    the driver applies w ← w − η_t·(λw − ĝ) with η_t = η0/t (intercept
    unpenalized, standard convention). Zero init + fixed schedule +
    fixed count + integer sums = fully deterministic, bit-for-bit.

    ORACLED (r11, upgraded from rows-only): with the subgradient sums
    exact integers (order-free) and no libm anywhere, the DuckDB twin
    unrolls the identical iteration (the holt/pagerank fixed-iteration
    precedent) with bit-identical indicator and update expression
    trees — the betas match BIT-EXACTLY; only the reported hinge-loss
    objective is an order-dependent double sum, absorbed by the shared
    floor(x*1e6+0.5)/1e6 rounding (the siegel T/Q class). A continuous
    feature would quantize to a fixed grid first — the documented
    trade: the trained model is the SVM of the quantized features,
    exact and reproducible, vs an engine-ordering-dependent float fit.

    Scale: one scan + an O(10^4) driver fold, vs IRLS's per-iteration
    scans — strictly better at 100 TB; cells are a bounded sufficient
    statistic (domain-sized, not data-sized)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 2).cast("bigint").alias("qu"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("du"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("tu"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(-1).alias("y"),
    )
    cells = sorted(
        (int(r.qu), int(r.du), int(r.tu), int(r.y), int(r.cnt))
        for r in li.groupBy("qu", "du", "tu", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    )
    n = sum(c for *_, c in cells)
    lam = SVM_LAMBDA
    b0 = w1 = w2 = w3 = 0.0
    for t in range(1, SVM_ITERS + 1):
        g0 = g1 = g2 = g3 = 0  # exact integer units (1e-2 per feature)
        for qu, du, tu, y, cnt in cells:
            xb = (
                (b0 + w1 * (qu / 100.0)) + w2 * (du / 100.0)
            ) + w3 * (tu / 100.0)
            if y * xb < 1.0:
                g0 += y * cnt * 100
                g1 += y * cnt * qu
                g2 += y * cnt * du
                g3 += y * cnt * tu
        eta = SVM_ETA0 / t
        ghat0 = g0 / (100.0 * n)
        ghat1 = g1 / (100.0 * n)
        ghat2 = g2 / (100.0 * n)
        ghat3 = g3 / (100.0 * n)
        b0 = b0 - eta * (-ghat0)
        w1 = w1 - eta * ((-ghat1) + lam * w1)
        w2 = w2 - eta * ((-ghat2) + lam * w2)
        w3 = w3 - eta * ((-ghat3) + lam * w3)
    hsum = 0.0
    for qu, du, tu, y, cnt in cells:
        xb = (
            (b0 + w1 * (qu / 100.0)) + w2 * (du / 100.0)
        ) + w3 * (tu / 100.0)
        hsum += cnt * max(0.0, 1.0 - y * xb)
    obj = hsum / n + (0.5 * lam) * ((w1 * w1 + w2 * w2) + w3 * w3)
    out = [
        ("intercept", _round6_floor(b0)),
        ("l_quantity_scaled", _round6_floor(w1)),
        ("l_discount", _round6_floor(w2)),
        ("l_tax", _round6_floor(w3)),
        ("objective", _round6_floor(obj)),
    ]
    return local_frame(spark, out, "term string, value double")


TREE_FEATURES = ["l_quantity", "l_discount", "l_tax"]
TREE_DEPTH = 2


_TREE_US = {"l_quantity": "u1", "l_discount": "u2", "l_tax": "u3"}


def _tree_cand_sql(name: str, gate: str, from_extra: str) -> str:
    """Candidate-split table for one gated node: per (feature, value),
    prefix class counts and weighted Gini, mirroring best_split's
    Python loop (values from the FULL cell table, counts under the
    gate, last value and empty sides excluded). All counts are exact
    integers, so the Gini doubles are bit-identical to the driver's."""
    per_feat = []
    for f, u in _TREE_US.items():
        per_feat.append(f"""
      SELECT '{f}' AS f, {u} / CAST(100 AS DOUBLE) AS v,
             CAST(sum(CASE WHEN {gate} THEN cnt ELSE 0 END) AS BIGINT) AS n,
             CAST(sum(CASE WHEN {gate} THEN y * cnt ELSE 0 END)
                  AS BIGINT) AS p
      FROM cells{from_extra} GROUP BY 1, 2""")
    vals = "\n      UNION ALL\n".join(per_feat)
    return f"""{name}_v AS MATERIALIZED (
      {vals}
    ),
    {name}_pre AS MATERIALIZED (
      SELECT f, v,
             sum(n) OVER cw AS ln, sum(p) OVER cw AS lp,
             sum(n) OVER fw AS tot_n, sum(p) OVER fw AS tot_p,
             row_number() OVER (PARTITION BY f ORDER BY v) AS rnum,
             count(*) OVER fw AS nvals
      FROM {name}_v
      WINDOW cw AS (PARTITION BY f ORDER BY v ROWS UNBOUNDED PRECEDING),
             fw AS (PARTITION BY f)
    ),
    {name} AS MATERIALIZED (
      SELECT f, v AS thr,
             (ln * (1 - (lp / ln) * (lp / ln)
                    - ((ln - lp) / ln) * ((ln - lp) / ln))
              + (tot_n - ln)
                * (1 - ((tot_p - lp) / (tot_n - ln))
                       * ((tot_p - lp) / (tot_n - ln))
                   - (((tot_n - ln) - (tot_p - lp)) / (tot_n - ln))
                     * (((tot_n - ln) - (tot_p - lp)) / (tot_n - ln))))
             / tot_n AS g
      FROM {name}_pre
      WHERE rnum < nvals AND ln > 0 AND tot_n - ln > 0
      ORDER BY g, f, thr
      LIMIT 1
    )"""


def _tree_oracle() -> str:
    cond0 = (
        "(CASE WHEN b.f = 'l_quantity' THEN u1 / CAST(100 AS DOUBLE)"
        " WHEN b.f = 'l_discount' THEN u2 / CAST(100 AS DOUBLE)"
        " ELSE u3 / CAST(100 AS DOUBLE) END) <= b.thr"
    )

    def child_cond(alias: str) -> str:
        return (
            f"(CASE WHEN {alias}.f = 'l_quantity' THEN u1 / CAST(100 AS DOUBLE)"
            f" WHEN {alias}.f = 'l_discount' THEN u2 / CAST(100 AS DOUBLE)"
            f" ELSE u3 / CAST(100 AS DOUBLE) END) <= {alias}.thr"
        )

    r6 = _round_sql(6)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(round(l_quantity * 100) AS BIGINT) AS u1,
             CAST(round(l_discount * 100) AS BIGINT) AS u2,
             CAST(round(l_tax * 100) AS BIGINT)      AS u3,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2, 3, 4
    ),
    {_tree_cand_sql("best0", "TRUE", "")},
    {_tree_cand_sql("best1", cond0, ", best0 b")},
    {_tree_cand_sql("best2", f"NOT ({cond0})", ", best0 b")},
    leaves_obs AS MATERIALIZED (
      SELECT CASE WHEN {cond0} AND {child_cond('s1')} THEN 3
                  WHEN {cond0} THEN 4
                  WHEN NOT ({cond0}) AND {child_cond('s2')} THEN 5
                  ELSE 6 END AS node,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(y * cnt) AS BIGINT) AS p
      FROM cells, best0 b, best1 s1, best2 s2
      GROUP BY 1
    ),
    leaves AS MATERIALIZED (
      -- all four leaves emit even when empty (n=0 -> NULL score),
      -- matching the driver's leaves.get(leaf, (0, 0)) default
      SELECT lf.node, coalesce(l.n, 0) AS n, coalesce(l.p, 0) AS p
      FROM (SELECT unnest([3, 4, 5, 6]) AS node) lf
      LEFT JOIN leaves_obs l USING (node)
    )
    SELECT CAST(0 AS BIGINT) AS node, 'split' AS kind, f AS feature,
           {r6.format(x='thr')} AS threshold,
           CAST(NULL AS VARCHAR) AS prediction,
           {r6.format(x='g')} AS score
    FROM best0
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'split', f, {r6.format(x='thr')},
           CAST(NULL AS VARCHAR), {r6.format(x='g')} FROM best1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'split', f, {r6.format(x='thr')},
           CAST(NULL AS VARCHAR), {r6.format(x='g')} FROM best2
    UNION ALL
    SELECT CAST(node AS BIGINT), 'leaf', CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE),
           CASE WHEN 2 * p > n THEN 'R' ELSE 'other' END,
           CASE WHEN n > 0
                THEN {r6.format(x='(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))')}
                END
    FROM leaves
    """


@register("ml_decision_tree_depth2", oracle=_tree_oracle())
def ml_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART classification tree (Breiman et al. 1984) for
    P(l_returnflag = 'R') over [quantity, discount, tax] — exact
    exhaustive split search by weighted Gini impurity, the third member
    of the tree family (ml_gbdt_stumps boosts depth-1; this is the
    interpretable single tree with one interaction level).

    Distributed shape: candidate thresholds are the features' DISTINCT
    VALUES (bounded vocabularies here: 50/11/9), so ONE pass per tree
    level computes per-(feature, value) class counts as
    partial-combinable aggregates; the driver prefix-sums the tiny
    per-value tables into left/right counts for every candidate split
    and picks argmin Gini with a total tie-break (gini, feature,
    threshold). Level 2 repeats the pass with the root predicate as two
    conditional count columns — 2 data passes total, O(|values|) driver
    state. At continuous features, bin to quantile sketches first (the
    standard Spark MLlib / LightGBM treatment).

    ORACLED (r11, upgraded from rows-only): the argmin IS SQL-twinnable
    here because every Gini is a fixed IEEE expression over EXACT
    integer class counts (bounded value grids -> prefix sums of ints),
    so the candidate scores are bit-identical across engines and
    ORDER BY (g, feature, threshold) LIMIT 1 reproduces the driver's
    (g, f, v) tuple-min exactly — including the string tie-break
    (binary collation == Python ASCII compare). The oracle derives
    both levels and the leaf table from ONE cell compression; Gini
    uses explicit products (no **) so the trees mirror.
    DEGENERATE INPUTS FAIL LOUD (r12 ADVICE): when any node has no
    valid split (a single distinct value under the gate) the driver
    raises ValueError rather than emitting a sentinel — the oracle's
    empty best CTE would silently empty the leaves, so a crash is the
    only cross-engine-comparable outcome (the singular-X'X idiom;
    pinned by tests/test_round12_property.py).
    tests/test_ml.py still pins every node against a numpy twin.
    Output: one row per node — node 0 root, 1/2 its left/right children
    (split nodes), 3..6 the depth-2 leaves with class predictions."""
    import numpy as np

    li = (
        _spread_ml(
            load_table(spark, sf_dir, "lineitem").select(
                (F.col("l_returnflag") == "R").cast("int").alias("y"),
                *TREE_FEATURES,
            )
        )
        .persist()
    )

    def value_tables(df, cond=None):
        """Per-feature (value, n, n_pos) tables under an optional
        predicate column — one aggregate per feature, bounded output."""
        out = {}
        for f in TREE_FEATURES:
            gate = F.lit(True) if cond is None else cond
            t = (
                df.groupBy(F.col(f).alias("v"))
                .agg(
                    F.sum(F.when(gate, 1).otherwise(0)).alias("n"),
                    F.sum(F.when(gate, F.col("y")).otherwise(0)).alias("p"),
                )
                .orderBy("v")
                .collect()
            )
            out[f] = [(float(r["v"]), int(r["n"]), int(r["p"])) for r in t]
        return out

    def best_split(tables):
        """argmin weighted Gini over all (feature, threshold<=) splits;
        returns (feature, threshold, gini) or None if no valid split."""
        best = None
        for f in TREE_FEATURES:
            rows = tables[f]
            tot_n = sum(n for _, n, _ in rows)
            tot_p = sum(p for _, _, p in rows)
            if tot_n == 0:
                continue
            ln = lp = 0
            for v, n, p in rows[:-1]:  # last value = trivial split
                ln += n
                lp += p
                rn, rp = tot_n - ln, tot_p - lp
                if ln == 0 or rn == 0:
                    continue
                # products, not **2 — mirrors the oracle's expression
                # tree exactly (the shared-expression contract)
                gl = (
                    1.0
                    - (lp / ln) * (lp / ln)
                    - ((ln - lp) / ln) * ((ln - lp) / ln)
                )
                gr = (
                    1.0
                    - (rp / rn) * (rp / rn)
                    - ((rn - rp) / rn) * ((rn - rp) / rn)
                )
                g = (ln * gl + rn * gr) / tot_n
                cand = (g, f, v)
                if best is None or cand < best:
                    best = cand
        return best

    root_tables = value_tables(li)
    root = best_split(root_tables)
    if root is None:
        raise ValueError(
            "ml_decision_tree_depth2: no valid split at the root — "
            "degenerate input (every feature single-valued). Fail-loud "
            "contract (r12, the singular-X'X idiom): the oracle's empty "
            "best CTE would silently empty the leaves table, so the two "
            "engines would fail non-comparably; a loud driver error is "
            "the documented behavior instead."
        )
    g0, f0, t0 = root
    left_cond = F.col(f0) <= F.lit(t0)
    splits = {1: None, 2: None}
    for node, cond in ((1, left_cond), (2, ~left_cond)):
        s = best_split(value_tables(li, cond))
        if s is None:
            raise ValueError(
                f"ml_decision_tree_depth2: no valid split at child node "
                f"{node} — degenerate gated input. Fail-loud contract "
                "(r12): see the root-split error above."
            )
        splits[node] = s
    # leaf stats in one final pass: which of the 4 leaves each row hits
    l1 = splits[1]
    l2 = splits[2]
    leaf_expr = (
        F.when(left_cond & (F.col(l1[1]) <= F.lit(l1[2])), 3)
        .when(left_cond, 4)
        .when(~left_cond & (F.col(l2[1]) <= F.lit(l2[2])), 5)
        .otherwise(6)
    )
    leaves = {
        int(r["leaf"]): (int(r["n"]), int(r["p"]))
        for r in li.groupBy(leaf_expr.alias("leaf"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("p"))
        .collect()
    }
    li.unpersist(blocking=False)
    rows = [
        (0, "split", f0, _round6_floor(t0), None, _round6_floor(g0)),
        (1, "split", l1[1], _round6_floor(l1[2]), None, _round6_floor(l1[0])),
        (2, "split", l2[1], _round6_floor(l2[2]), None, _round6_floor(l2[0])),
    ]
    for leaf in (3, 4, 5, 6):
        n, p = leaves.get(leaf, (0, 0))
        pred = "R" if 2 * p > n else "other"
        rows.append(
            (leaf, "leaf", None, None, pred,
             _round6_floor(p / n) if n else None)
        )
    return spark.createDataFrame(
        rows,
        "node bigint, kind string, feature string, threshold double, "
        "prediction string, score double",
    )


@register(
    "ml_lift_gain_deciles",
    oracle="""
    WITH scored AS (
      SELECT l_extendedprice * (1.0 - l_discount) AS score,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    ranked AS (
      SELECT score, y,
             row_number() OVER (ORDER BY score DESC, l_orderkey,
                                l_linenumber) AS rn,
             (SELECT CAST(count(*) AS BIGINT) FROM scored) AS n_tot
      FROM scored
    ),
    dec AS (
      SELECT CAST((rn - 1) * 10 // n_tot + 1 AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT)   AS pos
      FROM ranked GROUP BY 1
    ),
    tot AS (
      SELECT decile, n, pos,
             sum(n) OVER ()   AS tn,
             sum(pos) OVER () AS tp,
             sum(pos) OVER (ORDER BY decile
                            ROWS UNBOUNDED PRECEDING) AS cum_pos
      FROM dec
    )
    SELECT decile, n, pos,
           round(pos / (n * 1.0), 6) AS rate,
           round(pos / (n * 1.0) / (tp / (tn * 1.0)), 6) AS lift,
           round(cum_pos / (tp * 1.0), 6) AS cum_gain
    FROM tot
    """,
)
def ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gain chart — the model-evaluation table
    behind every targeting/campaign readout: rank rows by a propensity
    score, cut into 10 equal-population deciles, and report per-decile
    positive rate, lift over the base rate, and cumulative share of all
    positives captured.

    Score is the deterministic net-revenue proxy extendedprice*(1-disc);
    the positive label is returnflag='R'. The ordering is made TOTAL
    with the (orderkey, linenumber) tiebreak so decile assignment is
    reproducible across engines and runs.

    Distributed shape: the global rank is dist_rank.distributed_row_number
    (literal score-quantile buckets + literal per-bucket offsets — the
    r5-verdict pattern), NEVER a single-task `row_number() OVER (ORDER BY
    score)` window: at 100 TB the naive window funnels every row through
    one task. The decile cut `(rn-1)*10 div n + 1` is exact integer
    arithmetic; the final lift/gain windows run over the 10-row decile
    frame. The oracle uses the plain window (fine at oracle scale) — the
    statistic is identical because the ordering is total.
    """
    from go_batch_processor_spark.dist_rank import distributed_row_number
    from go_batch_processor_spark.spread import _spread

    li = load_table(spark, sf_dir, "lineitem")
    scored = (
        _spread(
            li.select(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ).alias("score"),
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias(
                    "y"
                ),
                "l_orderkey",
                "l_linenumber",
            )
        )
        # dist_rank consumes this three times and the fixture parquet
        # scans as 3 row-group-bound tasks — without the rebalance every
        # pass (quantile sample, bucket counts, bucketed rank) runs at
        # parallelism 3 regardless of cores; the checkpoint stops the
        # three passes re-running the scan+repartition (the _spread
        # rationale in dedup.py; measured 7.0 -> ~3 s at sf0.1).
        # eager=False (r8 ADVICE): eager would execute the scan at
        # DataFrame-CONSTRUCTION time, charging plan-only callers
        # (tools/plan_audit.py, explain-based tests) a real job; lazy
        # gives the same single materialization once an action runs.
        .localCheckpoint(eager=False)
    )
    ranked, n_tot = distributed_row_number(
        scored,
        "score",
        [
            F.col("score").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        "rn",
        descending=True,
    )
    dec = ranked.groupBy(
        F.expr(f"CAST((rn - 1) * 10 div {n_tot} + 1 AS BIGINT)").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = dec.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(w_all).alias("tn"),
        F.sum("pos").over(w_all).alias("tp"),
        F.sum("pos").over(w_cum).alias("cum_pos"),
    )
    return tot.select(
        "decile",
        "n",
        "pos",
        F.round(F.col("pos") / (F.col("n") * F.lit(1.0)), 6).alias("rate"),
        F.round(
            F.col("pos")
            / (F.col("n") * F.lit(1.0))
            / (F.col("tp") / (F.col("tn") * F.lit(1.0))),
            6,
        ).alias("lift"),
        F.round(F.col("cum_pos") / (F.col("tp") * F.lit(1.0)), 6).alias(
            "cum_gain"
        ),
    )


@register(
    "ml_conformal_interval",
    oracle="""
    WITH calib AS (
      SELECT event_type, value FROM events WHERE event_id % 2 = 0
    ),
    test AS (
      SELECT event_type, event_id, value FROM events WHERE event_id % 2 = 1
    ),
    model AS (
      SELECT event_type,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM calib GROUP BY 1
    ),
    cres AS (
      SELECT abs(c.value - m.cents / (100.0 * m.n)) AS r,
             row_number() OVER (ORDER BY abs(c.value - m.cents / (100.0 * m.n)))
               AS rn,
             (SELECT CAST(count(*) AS BIGINT) FROM calib c2
              JOIN model m2 USING (event_type)) AS nc
      FROM calib c JOIN model m USING (event_type)
    ),
    qhat AS (
      SELECT r AS q, nc FROM cres
      WHERE rn = (9 * (nc + 1) + 9) // 10
    ),
    tres AS (
      SELECT abs(t.value - m.cents / (100.0 * m.n)) AS r
      FROM test t JOIN model m USING (event_type)
    )
    SELECT (SELECT nc FROM qhat) AS n_calib,
           CAST(count(*) AS BIGINT) AS n_test,
           (SELECT CAST((9 * (nc + 1) + 9) // 10 AS BIGINT) FROM qhat) AS k,
           round((SELECT q FROM qhat), 6) AS qhat,
           round(sum(CASE WHEN r <= (SELECT q FROM qhat) THEN 1 ELSE 0 END)
                 / (count(*) * 1.0), 6) AS coverage
    FROM tres
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005; Lei et al.
    2018) for event value: fit a per-event-type mean on the calibration
    half (even event_ids), take qhat = the ceil(0.9*(n+1))-th smallest
    absolute calibration residual, and report the empirical coverage of
    mu +/- qhat on the test half — the distribution-free >= 90%-coverage
    guarantee that production ML systems wrap around ANY point model.

    Determinism shape: the split is id-parity (never RNG); the model is
    exact integer cents / (100.0 * n) (one IEEE division, bit-equal, so
    every residual double is bit-equal across engines); qhat is an exact
    ORDER STATISTIC (ceil((n+1)*0.9) via integer (9*(n+1)+9) div 10),
    not an interpolated quantile, and coverage compares bit-identical
    doubles.

    Scale shape: the model is a partial-aggregable groupBy (O(types)
    shuffle); residual scoring is a broadcast join of that tiny model;
    the order statistic uses dist_rank.distributed_row_number — no
    single-task ORDER BY window at any corpus size (the oracle's plain
    row_number is oracle-scale only). Calibration rows with an unseen
    event type drop on both engines (inner join).
    """
    from go_batch_processor_spark.dist_rank import distributed_row_number

    ev = load_table(spark, sf_dir, "events")
    calib = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "event_id", "value"
    )
    test = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_type", "event_id", "value"
    )
    model = calib.groupBy("event_type").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    mu = F.col("cents") / (F.lit(100.0) * F.col("n"))
    cres = (
        calib.join(F.broadcast(model), "event_type")
        .select("event_id", F.abs(F.col("value") - mu).alias("r"))
        # dist_rank consumes it three times. eager=False per the r8
        # convention — measured r10 at sf0.1: end-to-end is a wash
        # (1.30-1.57 s vs 1.33-1.60 s eager=True) and fn() itself gets
        # ~0.2 s cheaper; dist_rank's approxQuantile materializes the
        # checkpoint on first use either way, so lazy loses nothing.
        .localCheckpoint(eager=False)
    )
    ranked, nc = distributed_row_number(
        cres, "r", [F.col("r").asc(), F.col("event_id").asc()], "rn"
    )
    k = (9 * (nc + 1) + 9) // 10
    qhat = ranked.filter(F.col("rn") == k).select(F.col("r").alias("q"))
    tres = test.join(F.broadcast(model), "event_type").select(
        F.abs(F.col("value") - mu).alias("r")
    )
    return (
        tres.crossJoin(F.broadcast(qhat))
        .agg(
            F.lit(nc).cast("bigint").alias("n_calib"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.lit(k).cast("bigint").alias("k"),
            F.round(F.max("q"), 6).alias("qhat"),
            F.round(
                F.sum(F.when(F.col("r") <= F.col("q"), 1).otherwise(0))
                / (F.count(F.lit(1)) * F.lit(1.0)),
                6,
            ).alias("coverage"),
        )
    )


SHAP_TOPK = 10


@register(
    "ml_shap_linear_exact",
    oracle=f"""
    WITH rows_ AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT)                    AS x1,
             CAST(round(l_discount * 100) AS BIGINT)       AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT)  AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT)   AS n,
             CAST(sum(x1) AS HUGEINT)    AS sx1,
             CAST(sum(x2) AS HUGEINT)    AS sx2,
             CAST(sum(y) AS HUGEINT)     AS sy,
             CAST(sum(x1 * x1) AS HUGEINT) AS sx1x1,
             CAST(sum(x2 * x2) AS HUGEINT) AS sx2x2,
             CAST(sum(x1 * x2) AS HUGEINT) AS sx1x2,
             CAST(sum(x1 * y) AS HUGEINT)  AS sx1y,
             CAST(sum(x2 * y) AS HUGEINT)  AS sx2y
      FROM rows_
    ),
    mats AS (
      SELECT n, sx1, sx2, sy,
             n * sx1x1 - sx1 * sx1 AS a11,
             n * sx1x2 - sx1 * sx2 AS a12,
             n * sx2x2 - sx2 * sx2 AS a22,
             n * sx1y - sx1 * sy   AS b1,
             n * sx2y - sx2 * sy   AS b2
      FROM s
    ),
    beta AS (
      SELECT n, sx1, sx2,
             CAST(a22 * b1 - a12 * b2 AS DOUBLE)
               / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta1,
             CAST(a11 * b2 - a12 * b1 AS DOUBLE)
               / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta2
      FROM mats
    )
    SELECT l_orderkey, l_linenumber,
           round(beta1 * (x1 - CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE))
                 / 100.0, 4) AS phi_qty,
           round(beta2 * (x2 - CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE))
                 / 100.0, 4) AS phi_disc,
           round((beta1 * (x1 - CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE))
                  + beta2 * (x2 - CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / 100.0, 4) AS phi_total
    FROM rows_, beta
    ORDER BY abs(beta1 * (x1 - CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE))
                 + beta2 * (x2 - CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)))
             DESC, l_orderkey, l_linenumber
    LIMIT {SHAP_TOPK}
    """,
)
def ml_shap_linear_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attributions for a linear model (Lundberg & Lee 2017,
    Corollary 1: for linear f and independent features, phi_j =
    beta_j*(x_j - mean_j)) — model explainability as a first-class
    relational operator: fit extendedprice ~ quantity + discount by
    EXACT closed-form OLS and report the {SHAP_TOPK} rows whose
    prediction deviates most from the mean, decomposed per feature.

    Exactness shape: the 2-feature normal equations solve by Cramer's
    rule on centered integer sufficient statistics — x in integer units
    (quantity, discount cents), y in cents, so every matrix entry
    n*Sxx - Sx*Sx and moment vector entry is an EXACT wide integer
    (HUGEINT/DECIMAL(38,0); n*Sx1y reaches ~2e20 at sf0.1 — past bigint,
    far under 1e38), and beta is ONE double division of two exactly-
    computed integers. Every phi is then the identical rational tree,
    so the top-k ordering is bit-deterministic. No iterative solver
    (ml_ols_normal_equations is the general-d driver-solve; d=2
    inlines fully into SQL).

    Scale shape: one partial-aggregable scan for the nine sufficient
    statistics, broadcast of the 1-row beta frame, one more scan for
    scoring, top-k as TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = rows_.agg(
        d(F.count(F.lit(1))).alias("n"),
        d(F.sum("x1")).alias("sx1"),
        d(F.sum("x2")).alias("sx2"),
        d(F.sum("y")).alias("sy"),
        d(F.sum(F.col("x1") * F.col("x1"))).alias("sx1x1"),
        d(F.sum(F.col("x2") * F.col("x2"))).alias("sx2x2"),
        d(F.sum(F.col("x1") * F.col("x2"))).alias("sx1x2"),
        d(F.sum(F.col("x1") * F.col("y"))).alias("sx1y"),
        d(F.sum(F.col("x2") * F.col("y"))).alias("sx2y"),
    )
    n = F.col("n")
    a11 = n * F.col("sx1x1") - F.col("sx1") * F.col("sx1")
    a12 = n * F.col("sx1x2") - F.col("sx1") * F.col("sx2")
    a22 = n * F.col("sx2x2") - F.col("sx2") * F.col("sx2")
    b1 = n * F.col("sx1y") - F.col("sx1") * F.col("sy")
    b2 = n * F.col("sx2y") - F.col("sx2") * F.col("sy")
    det = a11 * a22 - a12 * a12
    beta = s.select(
        "n",
        "sx1",
        "sx2",
        ((a22 * b1 - a12 * b2).cast("double") / det.cast("double")).alias(
            "beta1"
        ),
        ((a11 * b2 - a12 * b1).cast("double") / det.cast("double")).alias(
            "beta2"
        ),
    )
    scored = rows_.crossJoin(F.broadcast(beta))
    mx1 = F.col("sx1").cast("double") / F.col("n").cast("double")
    mx2 = F.col("sx2").cast("double") / F.col("n").cast("double")
    phi1 = F.col("beta1") * (F.col("x1") - mx1)
    phi2 = F.col("beta2") * (F.col("x2") - mx2)
    return (
        scored.select(
            "l_orderkey",
            "l_linenumber",
            F.round(phi1 / F.lit(100.0), 4).alias("phi_qty"),
            F.round(phi2 / F.lit(100.0), 4).alias("phi_disc"),
            F.round((phi1 + phi2) / F.lit(100.0), 4).alias("phi_total"),
            F.abs(phi1 + phi2).alias("_a"),
        )
        .orderBy(F.col("_a").desc(), "l_orderkey", "l_linenumber")
        .limit(SHAP_TOPK)
        .drop("_a")
    )


@register(
    "ml_vif_multicollinearity",
    oracle="""
    WITH r AS (
      SELECT CAST(l_quantity AS BIGINT)              AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_tax * 100) AS BIGINT)      AS x3
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(x3) AS HUGEINT) AS s3,
             CAST(sum(x1 * x1) AS HUGEINT) AS s11,
             CAST(sum(x2 * x2) AS HUGEINT) AS s22,
             CAST(sum(x3 * x3) AS HUGEINT) AS s33,
             CAST(sum(x1 * x2) AS HUGEINT) AS s12,
             CAST(sum(x1 * x3) AS HUGEINT) AS s13,
             CAST(sum(x2 * x3) AS HUGEINT) AS s23
      FROM r
    ),
    c AS (
      SELECT n,
             n * s11 - s1 * s1 AS c11, n * s22 - s2 * s2 AS c22,
             n * s33 - s3 * s3 AS c33, n * s12 - s1 * s2 AS c12,
             n * s13 - s1 * s3 AS c13, n * s23 - s2 * s3 AS c23
      FROM s
    ),
    v AS (
      SELECT 'l_quantity' AS feature,
             (CAST(c22 AS DOUBLE) * CAST(c13 AS DOUBLE) * CAST(c13 AS DOUBLE)
              - 2.0 * CAST(c12 AS DOUBLE) * CAST(c13 AS DOUBLE) * CAST(c23 AS DOUBLE)
              + CAST(c33 AS DOUBLE) * CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))
             / (CAST(c11 AS DOUBLE)
                * (CAST(c22 AS DOUBLE) * CAST(c33 AS DOUBLE) - CAST(c23 AS DOUBLE) * CAST(c23 AS DOUBLE))) AS r2
      FROM c
      UNION ALL
      SELECT 'l_discount',
             (CAST(c11 AS DOUBLE) * CAST(c23 AS DOUBLE) * CAST(c23 AS DOUBLE)
              - 2.0 * CAST(c12 AS DOUBLE) * CAST(c23 AS DOUBLE) * CAST(c13 AS DOUBLE)
              + CAST(c33 AS DOUBLE) * CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))
             / (CAST(c22 AS DOUBLE)
                * (CAST(c11 AS DOUBLE) * CAST(c33 AS DOUBLE) - CAST(c13 AS DOUBLE) * CAST(c13 AS DOUBLE)))
      FROM c
      UNION ALL
      SELECT 'l_tax',
             (CAST(c11 AS DOUBLE) * CAST(c23 AS DOUBLE) * CAST(c23 AS DOUBLE)
              - 2.0 * CAST(c13 AS DOUBLE) * CAST(c23 AS DOUBLE) * CAST(c12 AS DOUBLE)
              + CAST(c22 AS DOUBLE) * CAST(c13 AS DOUBLE) * CAST(c13 AS DOUBLE))
             / (CAST(c33 AS DOUBLE)
                * (CAST(c11 AS DOUBLE) * CAST(c22 AS DOUBLE) - CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE)))
      FROM c
    )
    SELECT feature, round(r2, 6) AS r_squared,
           round(1.0 / (1.0 - r2), 6) AS vif
    FROM v ORDER BY feature
    """,
)
def ml_vif_multicollinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the (quantity, discount, tax)
    feature block — the multicollinearity diagnostic run before any
    linear model ships: VIF_j = 1/(1 - R^2_j) where R^2_j regresses
    feature j on the others; VIF > 5-10 means the block carries
    near-duplicate information and coefficients are unstable.

    Exactness shape: for a 2-regressor auxiliary regression, R^2 has the
    closed form (c22*c13^2 - 2*c12*c13*c23 + c33*c12^2) /
    (c11*(c22*c33 - c23^2)) over the CENTERED integer scatter entries
    c_jk = n*S_jk - S_j*S_k (the ml_shap_linear_exact Cramer machinery
    generalized to the full 3x3 scatter) — every c_jk is an exact wide
    integer (HUGEINT/DECIMAL38), each SCATTER ENTRY is cast to double
    once BEFORE any product (r13: triple products of wide integers
    overflow both DECIMAL38 and HUGEINT past sf~0.5 — caught by the
    x10 drive), and both engines evaluate the identical double
    rational tree in the same association order. No solver, no
    iteration, no libm.

    Scale shape: ONE partial-aggregable scan for the ten sufficient
    statistics; everything else is scalar arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("x3"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = r.agg(
        d(F.count(F.lit(1))).alias("n"),
        d(F.sum("x1")).alias("s1"),
        d(F.sum("x2")).alias("s2"),
        d(F.sum("x3")).alias("s3"),
        d(F.sum(F.col("x1") * F.col("x1"))).alias("s11"),
        d(F.sum(F.col("x2") * F.col("x2"))).alias("s22"),
        d(F.sum(F.col("x3") * F.col("x3"))).alias("s33"),
        d(F.sum(F.col("x1") * F.col("x2"))).alias("s12"),
        d(F.sum(F.col("x1") * F.col("x3"))).alias("s13"),
        d(F.sum(F.col("x2") * F.col("x3"))).alias("s23"),
    )
    n = F.col("n")
    c = s.select(
        (n * F.col("s11") - F.col("s1") * F.col("s1")).alias("c11"),
        (n * F.col("s22") - F.col("s2") * F.col("s2")).alias("c22"),
        (n * F.col("s33") - F.col("s3") * F.col("s3")).alias("c33"),
        (n * F.col("s12") - F.col("s1") * F.col("s2")).alias("c12"),
        (n * F.col("s13") - F.col("s1") * F.col("s3")).alias("c13"),
        (n * F.col("s23") - F.col("s2") * F.col("s3")).alias("c23"),
    )
    c11, c22, c33 = F.col("c11"), F.col("c22"), F.col("c33")
    c12, c13, c23 = F.col("c12"), F.col("c13"), F.col("c23")

    def r2(cjj, caa, cbb, cja, cjb, cab):
        # each SCATTER ENTRY casts to double BEFORE the products: a
        # triple product of DECIMAL(38,0) entries overflows 38 digits
        # once c_jk passes ~1e12.7 (sf≈0.5; the r13 x10 drive caught it
        # as an ArithmeticException at 6M rows, and the oracle's HUGEINT
        # triple product dies at the same scale). Per-entry casts round
        # the SAME exact integer identically on both engines, and the
        # double expression trees below are written in identical
        # association order — determinism is unchanged, the overflow
        # ceiling is gone (doubles hold to 1e308).
        d_ = lambda col: col.cast("double")  # noqa: E731
        return (
            d_(caa) * d_(cjb) * d_(cjb)
            - F.lit(2.0) * d_(cja) * d_(cjb) * d_(cab)
            + d_(cbb) * d_(cja) * d_(cja)
        ) / (d_(cjj) * (d_(caa) * d_(cbb) - d_(cab) * d_(cab)))

    rows = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_quantity").alias("feature"),
                    r2(c11, c22, c33, c12, c13, c23).alias("r2"),
                ),
                F.struct(
                    F.lit("l_discount").alias("feature"),
                    r2(c22, c11, c33, c12, c23, c13).alias("r2"),
                ),
                F.struct(
                    F.lit("l_tax").alias("feature"),
                    r2(c33, c11, c22, c13, c23, c12).alias("r2"),
                ),
            )
        ).alias("v")
    )
    return (
        rows.select(
            "v.feature",
            F.round(F.col("v.r2"), 6).alias("r_squared"),
            F.round(F.lit(1.0) / (F.lit(1.0) - F.col("v.r2")), 6).alias("vif"),
        )
        .orderBy("feature")
    )


PLATT_ITERS = 8


# Guard-digit collector (r12, ADVICE r11 item 4 — the noise-vs-grain
# class): keys whose FINAL statistic is a one-shot order-dependent
# double sum (cox partial_ll, logreg log_loss, svm objective, fisher
# tail mass) have NO contraction argument — their cross-engine parity
# rests on the ~1e-16 per-cell sum noise sitting far from a floor-round
# boundary, which is probabilistic, not guaranteed. Every driver-side
# floor-round therefore records any input whose scaled value lands
# within GUARD_BOUNDARY_EPS of a floor boundary (where a 1-ulp
# perturbation could flip the rounded output); the parity sweep asserts
# the collector stays empty (tests/test_round12_property.py), so a
# future boundary landing fails LOUD in CI instead of surfacing as an
# unexplained driver-gate hash red. SCALE.md round-12 documents the
# class.
GUARD_BOUNDARY_EPS = 1e-6
# Bounded ring of recent hits (ADVICE r12 item 3: an unbounded
# module-global consumed only by tests would grow silently in a
# long-lived production driver). The collector assumes every
# _round6_floor call runs DRIVER-SIDE — if a floor-round ever moves
# into an executor-side UDF, its hits land in the executor's forked
# interpreter and this guard silently no-ops; keep the one-shot-sum
# floor-rounds on the driver (they are by construction: each consumes
# a collected sufficient statistic).
BOUNDARY_HITS: list[tuple[float, float]] = []
_BOUNDARY_HITS_MAX = 1024


def _boundary_check(scaled: float) -> None:
    import math

    if math.isfinite(scaled):
        d = abs(scaled - round(scaled))
        if d < GUARD_BOUNDARY_EPS:
            if len(BOUNDARY_HITS) >= _BOUNDARY_HITS_MAX:
                del BOUNDARY_HITS[0]
            BOUNDARY_HITS.append((scaled, d))
            # loud in production logs, not only in the test collector —
            # a landing here means the affected key's oracle parity is
            # one ulp from flipping (demote it to rows-only; SCALE.md
            # determinism class #10)
            import logging

            logging.getLogger(__name__).warning(
                "floor-round input %r is within %.0e of a boundary "
                "(dist=%.3e) — oracle parity for the one-shot-sum keys "
                "is at risk; see SCALE.md determinism class #10",
                scaled,
                GUARD_BOUNDARY_EPS,
                d,
            )


def _round6_floor(x: float) -> float:
    """floor(x*1e6 + 0.5)/1e6 — the pure-IEEE rounding idiom (SCALE.md
    round-9 determinism notes: Spark's BigDecimal HALF_UP and DuckDB's
    multiply-then-nearest disagree on the SAME double near decimal
    half-points; this composite never does). Shared bit-for-bit with
    the DuckDB oracle's floor(x * 1e6 + 0.5) / 1e6."""
    import math

    scaled = x * 1000000.0 + 0.5
    _boundary_check(scaled)
    return math.floor(scaled) / 1000000.0


def _platt_oracle() -> str:
    """DuckDB twin of ml_platt_scaling: the identical Newton iteration
    UNROLLED (the pagerank/holt fixed-iteration precedent) over the
    identical (qu, y) cell compression. Every scalar expression mirrors
    the driver fold's IEEE tree; exp() is bit-identical to the driver's
    math.exp because both bind the SAME glibc libm in this container
    (verified r11 — 20k random probes, 0 ulp differences; the JVM's
    Math.exp, which does differ, is no longer on any path). Per-cell
    sums carry ~1e-16 ordering noise vs the sorted driver fold; Newton
    CONTRACTS it (both iterate toward the same optimum), so the
    round-6 outputs agree — the graph_pagerank determinism class."""
    steps = []
    prev = "p0"
    for i in range(1, PLATT_ITERS + 1):
        steps.append(f"""
    e{i} AS MATERIALIZED (
      SELECT cnt, y, qu / CAST(100 AS DOUBLE) AS s,
             CASE WHEN y = 1 THEN tg.t_pos ELSE tg.t_neg END AS t,
             CAST(1 AS DOUBLE)
               / (CAST(1 AS DOUBLE)
                  + exp(-({prev}.a * (qu / CAST(100 AS DOUBLE)) + {prev}.b)))
               AS p
      FROM cells, {prev}, tgt tg
    ),
    g{i} AS MATERIALIZED (
      SELECT sum(cnt * (s * (t - p)))                           AS ga,
             sum(cnt * (t - p))                                 AS gb,
             sum(cnt * (((p * (CAST(1 AS DOUBLE) - p)) * s) * s)) AS haa,
             sum(cnt * ((p * (CAST(1 AS DOUBLE) - p)) * s))       AS hab,
             sum(cnt * (p * (CAST(1 AS DOUBLE) - p)))             AS hbb
      FROM e{i}
    ),
    p{i} AS MATERIALIZED (
      SELECT p.a + ((g.ga * g.hbb - g.gb * g.hab)
                    / (g.haa * g.hbb - g.hab * g.hab)) AS a,
             p.b + ((g.gb * g.haa - g.ga * g.hab)
                    / (g.haa * g.hbb - g.hab * g.hab)) AS b
      FROM {prev} p, g{i} g
    )""")
        prev = f"p{i}"
    body = ",".join(steps)
    r6 = _round_sql(6)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT CAST(round(l_quantity * 2) AS BIGINT) AS qu,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    meta AS MATERIALIZED (
      SELECT CAST(sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(sum(cnt) AS BIGINT) AS n_all
      FROM cells
    ),
    tgt AS MATERIALIZED (
      SELECT (n_pos + CAST(1 AS DOUBLE)) / (n_pos + CAST(2 AS DOUBLE))
               AS t_pos,
             CAST(1 AS DOUBLE)
               / ((n_all - n_pos) + CAST(2 AS DOUBLE)) AS t_neg
      FROM meta
    ),
    p0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b),{body},
    ef AS (
      SELECT cnt, y,
             CAST(1 AS DOUBLE)
               / (CAST(1 AS DOUBLE)
                  + exp(-({prev}.a * (qu / CAST(100 AS DOUBLE)) + {prev}.b)))
               AS p
      FROM cells, {prev}
    ),
    fin AS (
      SELECT sum(cnt * ((p - y) * (p - y))) AS brier_num,
             sum(cnt * p) AS avgp_num
      FROM ef
    )
    SELECT 'slope_a' AS term, {r6.format(x='a')} AS value FROM {prev}
    UNION ALL
    SELECT 'intercept_b', {r6.format(x='b')} FROM {prev}
    UNION ALL
    SELECT 'brier', {r6.format(x='(brier_num / n_all)')} FROM fin, meta
    UNION ALL
    SELECT 'base_rate', {r6.format(x='(CAST(n_pos AS DOUBLE) / n_all)')}
    FROM meta
    UNION ALL
    SELECT 'avg_calibrated_p', {r6.format(x='(avgp_num / n_all)')}
    FROM fin, meta
    """


@register("ml_platt_scaling", oracle=_platt_oracle())
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling (Platt 1999): calibrate a raw decision score into a
    probability via the 2-parameter logistic P(y=1|s) = sigmoid(A*s + B),
    fitted with Newton on Platt's REGULARIZED targets
    t+ = (N+ + 1)/(N+ + 2), t- = 1/(N- + 2) (the out-of-sample
    correction from the paper — raw 0/1 targets overfit the sigmoid's
    tails). The standard post-hoc calibrator for SVM margins / GBDT
    logits before thresholding or expected-cost decisions; here the
    uncalibrated score is the literally-scaled quantity s = qty/50 (the
    ml_linear_svm_gd feature convention) against y = (returnflag = 'R').

    Scale shape (UPGRADED r11 — one scan, not 9): the score domain is
    bounded (quantity spans 1..50, the flag is binary), so the 100 TB
    fact table compresses to <= 100 (score, label, count) cells in ONE
    partial-combinable groupBy; the 8 Newton iterations then fold over
    the collected cell table driver-side (the canonical bounded
    sufficient-statistic collect — a continuous score would bin first,
    same as ml_calibration_ece's 10-bin reduction). Reports
    slope/intercept, the calibrated Brier score, and the base rate.

    ORACLED (r11, upgraded from rows-only): sigmoid evaluation moved
    from JVM F.exp to the DRIVER's math.exp, which is bit-identical to
    DuckDB's exp() — both bind the same glibc libm in this container
    (verified: 20k random probes, 0 ulp differences; the libm doctrine
    bans only the JVM's Math.exp, which genuinely differs). The oracle
    unrolls the identical Newton iteration (the holt/pagerank
    fixed-iteration precedent) with the 2x2 solve as mirrored Cramer
    formulas; per-cell double sums carry ~1e-16 ordering noise vs the
    sorted driver fold, which Newton contraction collapses below the
    round-6 grain (the graph_pagerank determinism class). Outputs round
    via the shared floor(x*1e6 + 0.5)/1e6 pure-IEEE idiom.

    Degenerate-input note (the driver-solve ML idiom, same as
    ml_logreg_irls/ml_linear_svm_gd): a constant score column or an
    empty table makes the 2x2 Hessian singular — the driver fold
    divides by det = 0 (inf/nan propagates to the output) rather than
    returning a wrong calibration; the fixture always has score
    variance, and a caller feeding a constant score has no calibration
    problem to solve.
    """
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity") * 2).cast("bigint").alias("qu"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    cells = sorted(
        (int(r.qu), int(r.y), int(r.cnt))
        for r in li.groupBy("qu", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .collect()
    )
    n_pos = sum(c for _, y, c in cells if y == 1)
    n_all = sum(c for _, _, c in cells)
    n_neg = n_all - n_pos
    t_pos = (n_pos + 1.0) / (n_pos + 2.0)
    t_neg = 1.0 / (n_neg + 2.0)
    a, b = 0.0, 0.0
    for _ in range(PLATT_ITERS):
        ga = gb = haa = hab = hbb = 0.0
        for qu, y, cnt in cells:
            s = qu / 100.0
            p = 1.0 / (1.0 + math.exp(-(a * s + b)))
            w = p * (1.0 - p)
            t = t_pos if y == 1 else t_neg
            ga += cnt * (s * (t - p))
            gb += cnt * (t - p)
            haa += cnt * ((w * s) * s)
            hab += cnt * (w * s)
            hbb += cnt * w
        det = haa * hbb - hab * hab
        a = a + (ga * hbb - gb * hab) / det
        b = b + (gb * haa - ga * hab) / det
    brier_num = avgp_num = 0.0
    for qu, y, cnt in cells:
        s = qu / 100.0
        p = 1.0 / (1.0 + math.exp(-(a * s + b)))
        brier_num += cnt * ((p - y) * (p - y))
        avgp_num += cnt * p
    out = [
        ("slope_a", _round6_floor(a)),
        ("intercept_b", _round6_floor(b)),
        ("brier", _round6_floor(brier_num / n_all)),
        ("base_rate", _round6_floor(n_pos / n_all)),
        ("avg_calibrated_p", _round6_floor(avgp_num / n_all)),
    ]
    return local_frame(spark, out, "term string, value double")
