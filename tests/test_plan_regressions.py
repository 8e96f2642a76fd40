"""Plan-shape regressions for the aggregate-consumed-twice finding:
ReuseExchange does NOT bridge a subtree consumed both as join input and
through a second aggregate (measured round 3), so these queries were
rewritten to window-over-agg-output. Pin the single-scan shape."""

from __future__ import annotations

import re

from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q15_scans_lineitem_once(spark, sf_dir):
    plan = _executed(REGISTRY["tpch_q15_shape"].fn(spark, sf_dir))
    assert plan.count("lineitem") == 1, plan


def test_markov_scans_events_once_three_exchanges(spark, sf_dir):
    plan = _executed(REGISTRY["analytics_markov_transitions"].fn(spark, sf_dir))
    assert plan.count("events") == 1, plan
    n_ex = len(re.findall(r"Exchange (hash|range|Single)", plan))
    assert n_ex <= 3, plan


def test_pii_scrub_is_narrow(spark, sf_dir):
    """The scrub pass must stay a pure map: no exchange at all."""
    plan = _executed(REGISTRY["text_pii_scrub"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_exact_substring_no_expand_single_gram_scan(spark, sf_dir):
    """No count-distinct Expand (min/max over the hash partition detects
    cross-doc repeats), and the expensive gram explode runs ONCE (the
    window tags positions in the same pass — no agg + join-back that
    would re-run it)."""
    plan = _executed(REGISTRY["dedup_exact_substring"].fn(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert plan.count("documents") == 1, plan


def test_chi_square_broadcasts_marginals(spark, sf_dir):
    """Marginals and totals are agg-sized: every join in the expected-count
    assembly must be broadcast, never a shuffled SMJ."""
    plan = _executed(REGISTRY["stats_chi_square"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_target_encoding_single_window_no_self_join(spark, sf_dir):
    """Leave-one-out encoding is ONE window pass over the keyed frame —
    no self-join, one exchange for the window partitioning (+ the
    global top-500 ordering)."""
    plan = _executed(REGISTRY["feature_target_encoding"].fn(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_mv_incremental_join_no_full_recompute_shape(spark, sf_dir):
    """The refresh is a union of delta joins; the orders side is scanned
    for the stored view + delta partitions but never cartesian."""
    plan = _executed(REGISTRY["mv_incremental_join"].fn(spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_window_funnel_scans_events_once_one_hash_exchange(spark, sf_dir):
    """Three chained step-windows must share ONE user_id exchange and one
    events scan — the join-cascade alternative replans the scan per step."""
    plan = _executed(REGISTRY["analytics_window_funnel"].fn(spark, sf_dir))
    assert plan.count("events") == 1, plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 2, plan  # user_id windows + final level histogram


def test_fuzzy_trigram_no_cartesian(spark, sf_dir):
    """The set-similarity join must block on the trigram inverted index —
    a cross product of names would be the classic quadratic mistake."""
    plan = _executed(REGISTRY["join_fuzzy_trigram"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_profile_table_single_scan(spark, sf_dir):
    """k-column profile must be ONE orders scan (inline-unpivot of a single
    agg row), not a union of k scan+agg branches."""
    plan = _executed(REGISTRY["profile_table_stats"].fn(spark, sf_dir))
    assert plan.count("FileScan") == 1, plan


def test_auc_and_ap_single_sort(spark, sf_dir):
    """AUC's fractional rank + tie count, and AP's rank + running TP, must
    each evaluate within at most two window nodes over one scan — a
    per-metric rescan would double the dominant cost."""
    for key in ("stats_auc_roc", "stats_avg_precision"):
        plan = _executed(REGISTRY[key].fn(spark, sf_dir))
        assert plan.count("FileScan") == 1, (key, plan)


def test_cumulative_distinct_one_exchange_no_expand(spark, sf_dir):
    """first-occurrence marker + running sum must share ONE user_id hash
    exchange (second sort subsumes the first's keys) and never rewrite
    into a distinct Expand."""
    plan = _executed(REGISTRY["window_cumulative_distinct"].fn(spark, sf_dir))
    assert "Expand" not in plan, plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 2, plan


def test_plans_md_zero_codegen_rows_are_exactly_the_allowlist():
    """r8 verdict item 6: the committed PLANS.md may report zero codegen
    spans ONLY for the streaming/CSV/JSON-source keys where whole-stage
    codegen genuinely does not apply. A relational key joining the zero
    set means the codegen grep rotted again (the r7 silent-zero bug) or a
    plan regressed out of codegen; either must fail CI, not hide in a
    stale table. tools/plan_audit.py asserts the same set at
    regeneration time."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import ZERO_CODEGEN_ALLOWED

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    zero = set()
    with open(path) as f:
        for line in f:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            # | query | exchanges | bcast | SMJ | top-k | codegen | ... |
            if len(cells) >= 8 and cells[5].isdigit() and int(cells[5]) == 0:
                zero.add(cells[0])
    assert zero == ZERO_CODEGEN_ALLOWED, (
        f"unexpected zero-codegen rows: {sorted(zero - ZERO_CODEGEN_ALLOWED)};"
        f" missing expected: {sorted(ZERO_CODEGEN_ALLOWED - zero)}"
    )


def test_spread_groups_exchange_is_reused_by_kernel(spark, sf_dir):
    """_spread_groups claims the explicit repartition(N, key) is REUSED
    by the downstream groupBy(key).applyInPandas (hashpartitioning
    satisfies the kernel's distribution requirement) — i.e. pinning the
    kernel's parallelism against AQE coalescing costs NO extra shuffle.
    Pin exactly one Exchange in the kalman filter plan."""
    df = REGISTRY["timeseries_kalman_filter"].fn(spark, sf_dir)
    plan = _executed(df)
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 1, plan


def test_median_band_isolation_single_shuffle(spark, sf_dir):
    """agg_median_distributed (r10 band-isolation rewrite): the corpus
    crosses exactly ONE hash exchange (the band marginal groupBy, with
    map-side partial aggregation swallowing the below-band sentinel
    mass); the only single-partition exchange feeds the cumulative
    window over the BOUNDED band marginal — never raw rows. A second
    hash exchange or a windowed full frame means the rewrite rotted
    back to ranking the corpus."""
    plan = _executed(REGISTRY["agg_median_distributed"].fn(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"Exchange SinglePartition", plan)) <= 1, plan
    assert plan.count("Window") == 1, plan
    # partial aggregation present upstream of the shuffle (map-side
    # combine is what keeps the sentinel mass off the wire)
    assert "partial_count" in plan, plan


MP_KEYS = (
    "timeseries_matrix_profile",
    "timeseries_matrix_profile_join",
    "timeseries_motif_topk",
    "timeseries_discord_topk",
)


def test_matrix_profile_family_plans_are_local_table_scans(spark, sf_dir):
    """The family's rows come from one driver-side pass and return as an
    Arrow-built LocalTableScan: no parallelize RDD (the list form of
    createDataFrame), no window, no join left in any of the four plans."""
    for key in MP_KEYS:
        plan = _executed(REGISTRY[key].fn(spark, sf_dir))
        assert "LocalTableScan" in plan, (key, plan)
        for op in ("ExistingRDD", "Window", "Join"):
            assert op not in plan, (key, plan)


def test_matrix_profile_cold_build_job_budget(spark, sf_dir, tmp_path):
    """A cold timeseries_matrix_profile (fresh fixture path, so the
    family's result cache misses) runs at most 5 jobs: the hourly
    aggregate and its collect, nothing per pair. The sibling motif top-k
    then reads the cached rows and runs none."""
    import os

    (tmp_path / "events.parquet").symlink_to(
        os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for key in ("timeseries_matrix_profile", "timeseries_motif_topk"):
            group = f"plan-regression-{key}-{tmp_path.name}"
            sc.setJobGroup(group, key)
            REGISTRY[key].fn(spark, str(tmp_path)).collect()
            jobs[key] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["timeseries_matrix_profile"] <= 5, jobs
    assert jobs["timeseries_motif_topk"] == 0, jobs


def test_k_core_job_budget_without_peel(spark, tmp_path):
    """graph_k_core on complete bipartite K8,8 events: every node has
    degree exactly k = 8, so round 0 is the fixpoint and the probe's
    degree aggregate is the answer. Measured with the collect: 9 jobs
    when the edge list was persisted, checkpointed and its aggregate
    recomputed, 7 when the probe's aggregate is returned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_batch_processor_spark.operators.graph import K_CORE

    pairs = [(u, i) for u in range(1, K_CORE + 1) for i in range(1, K_CORE + 1)]
    (tmp_path / "events.parquet").mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(pairs)), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + n for n in range(len(pairs))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _ in pairs], pa.int64()),
                "event_type": pa.array(["view"] * len(pairs)),
                "value": pa.array([1.0] * len(pairs), pa.float64()),
                "props": pa.array(['{"k": %d}' % i for _, i in pairs]),
            }
        ),
        str(tmp_path / "events.parquet" / "part-0.parquet"),
    )
    sc = spark.sparkContext
    group = f"plan-regression-k-core-{tmp_path.name}"
    try:
        sc.setJobGroup(group, "graph_k_core")
        rows = REGISTRY["graph_k_core"].fn(spark, str(tmp_path)).collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(r.core_degree for r in rows) == [K_CORE] * (2 * K_CORE)
    assert jobs <= 7, jobs
