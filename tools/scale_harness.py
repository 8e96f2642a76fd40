#!/usr/bin/env python
"""10x scaling-exponent harness (VERDICT r12 item 1).

SCALE.md's per-key complexity doctrine has always been ANALYTICAL — the
largest data any operator had touched before this tool was sf0.1. The
round-12 k-core lineage OOM proved super-linear cliffs can hide below
that horizon. This harness MEASURES the scaling story:

  1. Synthesizes scaled inputs in /tmp (never touching the read-only
     /root/testdata): each fact table is unioned N times with key
     offsets so entity populations GROW while per-entity history stays
     constant — the realistic 100 TB shape ("more users/docs/orders",
     not "one user with 10x history"). Copy 0 is the identity, so the
     1x dir is a byte-faithful rewrite of sf0.1 through the same
     writer (identical parquet layout across scales — layout noise
     can't masquerade as a scaling effect).
       - events:    event_id/user_id offset per copy; ts unchanged.
       - orders:    o_orderkey/o_custkey offset (orderkey stride shared
                    with lineitem so the join key survives scaling).
       - lineitem:  l_orderkey/l_partkey/l_suppkey offset.
       - documents: doc_id offset; text passed through a PER-COPY
                    consonant/vowel permutation (translate) so copies
                    are NOT near-duplicates of each other — otherwise
                    every near-dup key would see quadratic copy-cluster
                    pair growth that measures the FIXTURE, not the
                    operator. Length and word structure are preserved.
       - embeddings: vec_id offset; vectors scaled by (1 + 0.003*i)
                    with a small additive shift (distinct points, same
                    distribution shape).
     nation/region are copied unscaled (fixed-cardinality dims);
     customer/supplier/part scale with the facts on FK-consistent
     strides (r13 tier-3), so dim-joining keys keep every join intact.
  2. Times each key at 1x/3x/10x (noop sink, module df-caches cleared
     before EVERY run so each sample pays its own full build — census /
     model-table caches would otherwise hide the dominant cost), taking
     the MIN over runs (exponent fitting wants the noise floor).
  3. Fits the scaling exponent two ways: least-squares slope over all
     scales and the 3x->10x tail slope (the tail is the honest
     asymptotic read — fixed session overhead deflates the small-scale
     points). A key VIOLATES when its tail slope exceeds the claimed
     exponent + MARGIN.

Writes SCALE_MEASURED.md (the committed table) and prints one JSON line.

Usage:
  python tools/scale_harness.py                       # full: 19 keys, 1/3/10
  python tools/scale_harness.py --keys a,b --scales 1,3 --runs 1   # smoke
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE = "/root/testdata/sf0.1"
WORKDIR = "/tmp/scale_harness"
# nation/region stay unscaled (genuinely fixed-cardinality dims at any
# corpus scale); customer/supplier/part scale WITH the facts since r13
# tier-3 — their key domains equal the fact-side FK domains exactly
# (max c_custkey == max o_custkey etc., verified), so sharing the fact
# strides keeps every foreign key intact across copies.
DIMS = ["region", "nation"]
FACTS = [
    "events",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
    "customer",
    "supplier",
    "part",
]

# The ~15 most expensive headliners of BENCH_local_r12.out plus their
# family siblings — the keys whose scaling behavior carries the bench.
# claimed = the SCALE.md-documented complexity exponent in input rows
# (1.0 linear, 1.2 allows an n log n rank/sort factor, 2.0 = documented
# all-pairs-at-test-scale).
CLAIMED: dict[str, tuple[float, str]] = {
    "graph_betweenness_sampled": (1.0, "batched Brandes, O(pivots*E)"),
    "graph_pagerank": (1.0, "iterative co-partitioned join, linear/round"),
    "graph_bfs_shortest_paths": (1.0, "level-synchronous BFS"),
    "graph_k_core": (1.0, "batched peeling, linear/round"),
    "graph_resource_allocation": (1.0, "inverted-index join, degree-capped"),
    "text_head_middle_tail_split": (1.2, "distributed_row_number rank"),
    "text_bigram_kn_logprob": (1.0, "Zipf-bounded model + co-located join"),
    "text_repeated_ngrams": (1.0, "DF-capped n-gram groupBy"),
    "text_contamination_ngram": (1.0, "stop-shingle-capped index join"),
    "text_ngram_novelty": (1.0, "bounded n-gram model join"),
    "stats_spearman_corr": (1.2, "two distributed rank passes"),
    "stats_bootstrap_poisson_ci": (1.0, "Poissonized resample aggregate"),
    "stats_permutation_test": (1.0, "compressed-frame permutation draws"),
    "ml_lift_gain_deciles": (1.2, "distributed_row_number global rank"),
    "ml_kmeans_lloyd": (1.0, "Lloyd rounds, linear/round"),
    "ml_isolation_forest": (1.0, "Arrow-kernel per-row tree walk"),
    "similarity_knn_classifier": (2.0, "all-pairs LOO by design at test SF"),
    "dedup_exact_substring": (1.2, "suffix-span sort"),
    "dedup_near_minhash": (1.0, "LSH banding, bucket-capped"),
    "dedup_containment_ngram": (1.0, "inverted-index join, DF-capped"),
}
TIER1 = list(CLAIMED)
# Tier 2 (r13): the next band of headliners, fact-table-only. Dim-joining
# keys were deferred to TIER3, which landed once customer/supplier/part
# scale on FK-consistent strides (unscaled dims + scaled facts would have
# broken the FKs and faked flat exponents).
TIER2: dict[str, tuple[float, str]] = {
    "graph_jaccard_link_prediction": (1.0, "capped inverted-index self-join"),
    "graph_triangle_count": (1.0, "oriented wedge count, degree-capped"),
    # corrected r13 after the harness measured tail 2.0 (1.5 s -> 136 s
    # at x10): within a (lang, band) cell the verify IS all-pairs —
    # quadratic in cell population by design; the corpus-scale path is
    # composing it AFTER minhash/simhash candidates (docstring since r3).
    # PassJoin-style exact pruning is ineffective at D/L = 15/80.
    "dedup_edit_distance": (2.0, "band all-pairs verifier by design"),
    "dedup_exact": (1.0, "sha2 groupBy"),
    "dedup_cluster_components": (1.0, "iterative CC, linear/round"),
    "ml_logreg_irls": (1.0, "one cell groupBy, bounded driver IRLS fold"),
    "ml_naive_bayes_langid": (1.0, "bounded vocab model + scoring scan"),
    "ml_conformal_interval": (1.2, "distributed_row_number global rank"),
    "agg_count_min_sketch": (1.0, "bounded d*w cell merge"),
    "agg_median_distributed": (1.2, "bucketed exact order statistics"),
    "similarity_centroid_assign": (1.0, "broadcast centroids, one scan"),
    "search_hybrid_rrf": (1.2, "two top-k rank lists + RRF merge"),
    "timeseries_ses_grid_search": (1.0, "calendar-bounded daily fold"),
    "timeseries_kalman_filter": (1.0, "calendar-bounded driver fold"),
    "timeseries_matrix_profile": (1.0, "calendar-bounded driver STOMP pass"),
    "timeseries_stl_loess": (1.0, "calendar-bounded loess"),
    "stats_benjamini_hochberg": (1.0, "bounded hypothesis-count rollup"),
    "stats_cucconi_test": (1.0, "compressed-domain rank stats"),
    "stats_kaplan_meier": (1.0, "horizon-bounded event table"),
    "feature_quantile_bucketize": (1.0, "literal-bucket projection"),
    "text_bm25_topk": (1.0, "DF-bounded postings join"),
    "analytics_markov_transitions": (1.0, "per-user lag window + pair agg"),
    "join_asof": (1.2, "union+window asof, one user shuffle"),
    "stream_sessionize": (1.2, "per-user session windows"),
}
CLAIMED.update(TIER2)
# Tier 3 (r13): the dim-joining keys — coverable once customer/supplier/
# part scale WITH the facts (FK-consistent strides; see synthesize()).
TIER3: dict[str, tuple[float, str]] = {
    "tpch_q2_shape": (1.0, "min-cost supplier correlated shape"),
    "tpch_q3_shape": (1.0, "3-way filtered join + top-10"),
    "tpch_q5_shape": (1.0, "5-way star join + region filter"),
    "tpch_q6_shape": (1.0, "pure scan-agg, pushdown floor"),
    "tpch_q7_shape": (1.0, "2-nation volume shipping join"),
    "tpch_q9_shape": (1.2, "product-profit 5-way join + groupBy"),
    "tpch_q11_shape": (1.0, "partsupp value scan + scalar subquery"),
    "tpch_q15_shape": (1.2, "revenue view + global max join"),
    "tpch_q16_shape": (1.0, "supplier-cnt distinct agg"),
    "tpch_q20_shape": (1.0, "semi-join chain with qty threshold"),
    "tpch_q21_shape": (1.2, "multi self-join waiting-supplier shape"),
    "stats_getis_ord_hotspots": (1.0, "neighbor-window z-stats"),
    "join_bloom_prefilter": (1.0, "bloom-gated selective join"),
    "feature_target_encoding": (1.0, "two-pass leave-one-out encode"),
    "join_broadcast_dim": (1.0, "broadcast dim equi-join"),
}
CLAIMED.update(TIER3)
MARGIN = 0.35  # absorbs timer noise + hidden log factors

# Per-copy letter permutations for documents.text: translate() source is
# the 9 highest-frequency English letters; each copy maps them through a
# distinct derangement-ish permutation, destroying cross-copy n-gram /
# shingle overlap while preserving length, casing of other letters, and
# whitespace/word structure. Copy 0 is the identity.
_SRC = "aeiounsrt"
_PERMS = [
    "aeiounsrt",  # 0: identity
    "eiouanrts",
    "iouaestrn",
    "ouaeitnsr",
    "uaeiortns",
    "aeuiosntr",
    "eoaiutsrn",
    "iaoeunrst",
    "oeuaisrtn",
    "ueoaitrsn",
]


def _text_expr(n: int) -> str:
    cases = " ".join(
        f"WHEN {i} THEN translate(text, '{_SRC}', '{_PERMS[i % len(_PERMS)]}')"
        for i in range(1, n)
    )
    return f"CASE i WHEN 0 THEN text {cases} END" if n > 1 else "text"


def synthesize(scale: int, out_dir: str, base: str = BASE) -> None:
    """Write the scaled table set for `scale` copies into out_dir."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    for t in DIMS:
        shutil.copyfile(
            os.path.join(base, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        )
    con = duckdb.connect()
    strides = {}
    for col, tbl in [
        ("event_id", "events"),
        ("user_id", "events"),
        ("doc_id", "documents"),
        ("vec_id", "embeddings"),
    ]:
        strides[col] = (
            con.sql(f"SELECT max({col})+1 FROM '{base}/{tbl}.parquet'").fetchone()[0]
        )
    # FK strides are shared across BOTH sides of each join (fact FK and
    # dim PK domains can differ in general — take the max) so every key
    # relation survives replication intact
    for name, pairs in [
        ("orderkey", [("o_orderkey", "orders"), ("l_orderkey", "lineitem")]),
        ("o_custkey", [("o_custkey", "orders"), ("c_custkey", "customer")]),
        ("l_partkey", [("l_partkey", "lineitem"), ("p_partkey", "part")]),
        ("l_suppkey", [("l_suppkey", "lineitem"), ("s_suppkey", "supplier")]),
    ]:
        strides[name] = (
            con.sql(
                "SELECT greatest("
                + ", ".join(
                    f"(SELECT max({c}) FROM '{base}/{t}.parquet')" for c, t in pairs
                )
                + ") + 1"
            ).fetchone()[0]
        )

    selects = {
        "events": f"""
            SELECT event_id + i*{strides['event_id']} AS event_id, ts,
                   user_id + i*{strides['user_id']} AS user_id,
                   event_type, value, props
            FROM '{base}/events.parquet', range({scale}) r(i)""",
        "orders": f"""
            SELECT o_orderkey + i*{strides['orderkey']} AS o_orderkey,
                   o_custkey + i*{strides['o_custkey']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM '{base}/orders.parquet', range({scale}) r(i)""",
        "lineitem": f"""
            SELECT l_orderkey + i*{strides['orderkey']} AS l_orderkey,
                   l_partkey + i*{strides['l_partkey']} AS l_partkey,
                   l_suppkey + i*{strides['l_suppkey']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{base}/lineitem.parquet', range({scale}) r(i)""",
        "documents": f"""
            SELECT doc_id + i*{strides['doc_id']} AS doc_id,
                   {_text_expr(scale)} AS text, lang, source, n_chars
            FROM '{base}/documents.parquet', range({scale}) r(i)""",
        "embeddings": f"""
            SELECT vec_id + i*{strides['vec_id']} AS vec_id,
                   list_transform(embedding,
                     x -> CAST(x * (1.0 + 0.003*i) + 0.0001*i AS FLOAT))
                     AS embedding,
                   label
            FROM '{base}/embeddings.parquet', range({scale}) r(i)""",
        "customer": f"""
            SELECT c_custkey + i*{strides['o_custkey']} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM '{base}/customer.parquet', range({scale}) r(i)""",
        "supplier": f"""
            SELECT s_suppkey + i*{strides['l_suppkey']} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
            FROM '{base}/supplier.parquet', range({scale}) r(i)""",
        "part": f"""
            SELECT p_partkey + i*{strides['l_partkey']} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM '{base}/part.parquet', range({scale}) r(i)""",
    }
    for t in FACTS:
        con.sql(
            f"COPY ({selects[t]}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def fit_slopes(points: list[tuple[int, float]]) -> tuple[float, float]:
    """(least-squares slope over all points, tail slope of last pair)."""
    xs = [math.log(s) for s, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs) or 1.0
    lsq = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
    (x1, y1), (x2, y2) = (xs[-2], ys[-2]), (xs[-1], ys[-1])
    tail = (y2 - y1) / (x2 - x1)
    return lsq, tail


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--keys", default=",".join(TIER1))
    ap.add_argument("--tier2", action="store_true", help="run the TIER2 key set")
    ap.add_argument("--tier3", action="store_true", help="run the TIER3 key set")
    ap.add_argument("--workdir", default=WORKDIR)
    ap.add_argument("--skip-synth", action="store_true")
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALE_MEASURED.md"))
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    keys = (
        list(TIER3)
        if args.tier3
        else list(TIER2)
        if args.tier2
        else [k for k in args.keys.split(",") if k]
    )

    dirs = {}
    for s in scales:
        d = os.path.join(args.workdir, f"x{s}")
        dirs[s] = d
        if not args.skip_synth or not os.path.isdir(d):
            t0 = time.perf_counter()
            synthesize(s, d)
            print(f"synthesized x{s} in {time.perf_counter()-t0:.1f}s", flush=True)

    from go_batch_processor_spark.dfcache import clear_all as clear_df_caches
    from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
    from go_batch_processor_spark.session import get_spark

    spark = get_spark(
        app_name="gbp-scale-harness",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    _ensure_loaded()
    # JIT/codegen warm-up outside the timed region (bench.py protocol),
    # then one untimed pass per key at the SMALLEST synthesized scale —
    # AQE picks different physical shapes at sf0.001 vs x1, so the tiny
    # warm-up alone leaves first-execution codegen inside the x1 sample
    # (smoke run: kmeans 17.4 s at x1 vs 5.7 s at x3 before this pass).
    for k in keys:
        REGISTRY[k].fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    for k in keys:
        clear_df_caches()
        spark.catalog.clearCache()
        REGISTRY[k].fn(spark, dirs[scales[0]]).write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, dict] = {}
    for s in scales:
        for k in keys:
            best = math.inf
            for _ in range(args.runs):
                clear_df_caches()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    REGISTRY[k].fn(spark, dirs[s]).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:  # noqa: BLE001 — record, keep measuring
                    results.setdefault(k, {})[f"err_x{s}"] = repr(exc)[:200]
                    best = math.nan
                    break
                best = min(best, time.perf_counter() - t0)
            results.setdefault(k, {})[f"t_x{s}"] = round(best, 3)
            print(f"x{s} {k}: {best:.3f}s", flush=True)

    rows = []
    for k in keys:
        r = results[k]
        pts = [
            (s, r[f"t_x{s}"])
            for s in scales
            if not math.isnan(r.get(f"t_x{s}", math.nan))
        ]
        claimed, why = CLAIMED.get(k, (math.nan, "?"))
        if len(pts) >= 2:
            lsq, tail = fit_slopes(pts)
            verdict = "OK" if tail <= claimed + MARGIN else "VIOLATION"
        else:
            lsq = tail = math.nan
            verdict = "ERROR"
        r.update(lsq=round(lsq, 2), tail=round(tail, 2), verdict=verdict)
        rows.append((k, claimed, why, r))

    with open(args.out, "w") as fh:
        fh.write(
            "# SCALE_MEASURED — measured scaling exponents "
            "(tools/scale_harness.py)\n\n"
            f"Inputs: sf0.1 fact tables replicated with key offsets at "
            f"x{{{','.join(map(str, scales))}}} (entity populations grow, "
            "per-entity history constant — see the tool docstring for the "
            "synthesis rules). Timing: min over "
            f"{args.runs} noop-sink runs, module caches cleared per run, "
            "local[32]. `tail` = slope of the last scale pair in log-log "
            "(the honest asymptotic read; fixed overhead deflates small "
            "scales). VIOLATION = tail exponent exceeds the claimed "
            f"class by more than {MARGIN}.\n\n"
            "| Key | claimed | why | "
            + " | ".join(f"t(x{s})" for s in scales)
            + " | lsq | tail | verdict |\n"
            "|---|---|---|"
            + "---|" * len(scales)
            + "---|---|---|\n"
        )
        for k, claimed, why, r in rows:
            ts = " | ".join(str(r.get(f"t_x{s}", "—")) for s in scales)
            fh.write(
                f"| {k} | {claimed} | {why} | {ts} | {r['lsq']} | "
                f"{r['tail']} | {r['verdict']} |\n"
            )
        errs = [
            (k, v)
            for k, _, _, r in rows
            for k2, v in r.items()
            if str(k2).startswith("err_")
        ]
        if errs:
            fh.write("\nErrors:\n")
            for k, e in errs:
                fh.write(f"- {k}: {e}\n")
    print(
        json.dumps(
            {
                "metric": "scale_exponents",
                "scales": scales,
                "runs": args.runs,
                "violations": [k for k, _, _, r in rows if r["verdict"] != "OK"],
                "results": {k: r for k, _, _, r in rows},
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
