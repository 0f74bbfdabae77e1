"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver-side result transfer), timed after a session warm-up so JVM/codegen
startup isn't billed to the first query.

Round 15 additions (VERDICT r14 #2/#7): a fixed 3-query calibration probe
runs at session start AND end; BENCH_DETAIL.json carries the probe times
and drift factors vs the previous committed detail, so host drift no
longer needs prose normalization.

Round 17 restructure (VERDICT r16 #5/#6):

* **Exact-demo lane (#6).** The seven deliberately-exact demos
  (EXPENSIVE_EXACT_DEMOS — each exists to value-twin a production-path
  operator that IS benched at full SF) dominated ~44 s of the fresh-round
  suite wall while carrying the lowest regression-detection value per
  second, and the even/odd carried cadence made the headline total mix
  timing epochs. They now run EVERY round, fresh, at
  $SPARK_GRAFT_DEMO_SF_DIR (default sf0.01) in a separate ``demo_lane``
  block with its own same-SF regression tracking; the headline ``value``
  is the sum of the remaining production-path queries at full SF. This is
  a one-time DEFINITIONAL break in ``value`` (~203 s → ~160 s) and in
  ``suite83_sec`` (5 of its members are demos; the non-demo remainder is
  emitted as ``suite78_prod_sec``), recorded here and in README;
  ``headline15_sec`` and the per-query map are unaffected.
  SPARK_GRAFT_BENCH_FULL=1 times the demo lane at the main SF instead
  (still reported in ``demo_lane``, tagged with its sf, never mixed into
  ``value`` — the metric definition does not flip with the env var).
  The carried/fresh_meta machinery is gone with the cadence that needed
  it.

* **Robust regression flags (#5).** The r16 driver run flagged seven
  ≥1.3x "regressions" on identical code: the end-probe normalizer
  (1.0555) sat 8% above the suite-wide median raw ratio (0.9755), and
  the single-sample previous value is itself a noisy cross-session draw
  (replaying the recorded r16 detail pair: five of the seven flags
  dissolve under a median anchor + median-of-last-3 baseline, and the
  judge's standalone retimes cleared the rest). Flags are now computed
  as: anchor = drift_factor_median (probe factors remain as recorded
  cross-checks via drift_disagreement); per-query baseline = median of
  the query's last ≤3 fresh values, each carried forward in
  session-local units via the ``recent`` map (scaled by each pair's
  median anchor, so old epochs compare in today's units); a candidate
  (ratio ≥ 1.3 vs baseline) is then RE-TIMED in-session (min-of-3,
  steady state) and only confirmed — recorded under the same
  ``normalized_regressions_ge_1p3`` key — if the retime still holds the
  ratio; the retime also replaces the recorded time (min over all six
  trials), so one scheduler hiccup can't pollute the next round's
  baseline. Candidates and retimes are recorded alongside so the
  adjudication is auditable (tests/test_bench_flags.py replays the
  recorded r16 pair).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_revenue_by_nation",
    "q04_topk_per_group",
    "q12_point_in_interval",
    "q13_interval_overlap",
    "q14_transitive_closure",
    "q21_sessionize",
    "q34_asof_join",
    "q22_exact_dedup",
    "q23_ngram_jaccard",
    "q25_minhash_lsh_pairs",
    "q26_simhash",
    "q27_knn_bruteforce",
    "q31_text_profile",
]

# round 3: the curation family joined the bench so the newest operators
# show regressions too; HEADLINE above is kept intact (its sum is reported
# separately as headline15_sec for cross-round continuity).
CURATION = [
    "q58_contamination",
    "q59_boilerplate",
    "q60_corpus_mix",
    "q61_pack_sequences",
    "q62_pii_scrub",
    "q63_salted_join",
    # round 5 additions
    "q70_span_dedup",
    "q71_shuffle_shards",
    "q72_bloom_incremental",
    "q73_curate_pipeline",
    "q74_bpe_merges",
    # round 6 additions
    "q76_semantic_dedup",
    "q77_tfidf_terms",
    "q78_bm25_rank",
    "q79_domain_cap",
    "q80_temperature_mix",
    "q81_perplexity_buckets",
    "q82_dsir_importance",
    "q83_funnel",
    "q84_cohort_retention",
    "q85_pagerank",
    "q86_scd2_history",
    "q87_quality_classifier",
    "q88_pq_adc_topk",
    "q89_weighted_sample",
    "q90_ivf_pq",
    "q91_setsim_prefix_join",
    "q92_stat_aggregates",
    # round 7 additions
    "q94_scd2_apply",
    "q95_leakage_free_split",
    "q96_best_of_cluster",
    "q98_session_examples",
    # round 8 additions
    "q99_triangle_counts",
    "q100_gapfill_hourly",
    "q101_profile_orders",
    "q102_zorder_key",
    "q103_zscore_outliers",
    "q104_snapshot_diff",
    "q105_expectations",
    "q106_ohlc_daily",
    "q107_time_weighted_avg",
    "q108_approx_quantile_bounds",
    "q109_seasonal_naive_backtest",
    "q110_heavy_hitters",
    "q111_sketch_rollup",
    "q112_containment_join",
    # round 10 additions
    "q113_event_transitions",
    "q114_trailing_window",
    "q115_editdist1_join",
    "q116_knn_batch",
    "q117_entity_resolution",
    "q118_phrase_search",
    "q119_neardup_decontam",
    "q120_multi_phrase",
    "q121_phrase_decontam",
    "q122_embedding_decontam",
    "q123_copurchase",
    "q124_cusum_drift",
    "q125_mad_outliers",
    "q126_hard_negatives",
    # round 11 additions
    "q127_interval_coverage",
    "q128_asof_forward",
    "q129_interval_gaps",
    "q130_pareto_frontier",
    "q131_max_concurrency",
    "q132_golden_records",
]


# Round 15 (VERDICT r14 #2): a mechanical drift anchor. Host throughput
# drifted monotonically ~20% across the round-14 session with no code
# change; cross-round comparison rested on prose ("normalize by the
# session's own suite83"). Now it's data: a fixed 3-query probe runs at
# session START and END (same warm-up + min-of-3 discipline), the probe
# times land in BENCH_DETAIL.json, and the factors vs the previous
# committed detail are recorded. Since round 17 the probes are the
# CROSS-CHECK (drift_disagreement) and drift_factor_median is the flag
# normalizer (module docstring).
CALIBRATION = ["q01_pricing_summary", "q22_exact_dedup", "q31_text_profile"]

# The seven deliberately-exact/exhaustive demos — each the value twin of a
# production-path operator benched at full SF every round (q163 → q167
# IVF-routed audit; q91 PPJoin demo's exact complement q112 and vice
# versa; q76 → q95/q96 cluster family; q99 exact triangles → q85 wedge
# join; q52 winnowing pairs → q142/q144/q147 span family; q101 full
# profiling sweep → q92 stat aggregates). Timed every round at the demo
# SF (module docstring: round-17 lane); their DuckDB value oracles run
# every pytest at both gate SFs regardless.
EXPENSIVE_EXACT_DEMOS = [
    "q163_label_noise",
    "q91_setsim_prefix_join",
    "q76_semantic_dedup",
    "q99_triangle_counts",
    "q52_substring_overlap_pairs",
    "q112_containment_join",
    "q101_profile_orders",
]

FLAG_THRESHOLD = 1.3
# A committed per-query value below this is timer noise, not signal.
MIN_SIGNAL_SEC = 0.2


def _bench_round(repo: str, prev: dict | None) -> tuple[int, int]:
    """Round label + correctness-file count (for the committed history).

    Round 16 (ADVICE r15): counting CORRECTNESS_r*.json files alone made
    the round label flip when bench re-ran within one round before vs
    after the round's correctness file landed. The label is anchored to
    the previous committed BENCH_DETAIL: it advances by the number of
    correctness files landed since that detail was written and stays
    stable across same-round re-runs.
    """
    import glob
    import re

    n_corr = len(
        [
            f
            for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
            if re.search(r"_r(\d+)\.json$", f)
        ]
    )
    if (
        prev is not None
        and isinstance(prev.get("round"), int)
        and isinstance(prev.get("n_correctness_files"), int)
    ):
        grown = max(0, n_corr - prev["n_correctness_files"])
        return prev["round"] + grown, n_corr
    return n_corr + 1, n_corr


def suite_median_ratio(
    times: dict[str, float],
    prev_queries: dict[str, float],
    exclude: set[str] = frozenset(),
) -> float | None:
    """Median of per-query raw ratios vs the previous detail over
    comparable entries (same lane, ≥ MIN_SIGNAL_SEC previously, not in
    ``exclude`` — e.g. entries the previous detail carried rather than
    measured). This is the flag normalizer since round 17: two recorded
    r16 re-runs showed the 3-query probe trio moving 20% while the suite
    median sat near 1.0, which would have manufactured ~80 flags under a
    probe anchor; the median of ~170 ratios is robust to any one query's
    scheduler luck AND to probe-specific luck."""
    ratios = [
        t / prev_queries[n]
        for n, t in times.items()
        if n not in exclude and prev_queries.get(n, 0.0) >= MIN_SIGNAL_SEC
    ]
    if not ratios:
        return None
    return round(statistics.median(ratios), 4)


def robust_baselines(
    prev_queries: dict[str, float],
    prev_recent: dict[str, list[float]],
    med_ratio: float,
    exclude: set[str] = frozenset(),
) -> dict[str, float]:
    """Per-query baseline in THIS session's units: the median of the
    query's last ≤3 fresh values (the ``recent`` chain — each round
    prepends its fresh time and re-scales older entries by that pair's
    median anchor, so entries stay in the then-current session's units),
    scaled into today's units by ``med_ratio``. Falls back to the single
    previous value where no chain exists (bootstrap / first round after
    this machinery landed). Replaying the recorded r16 detail pair, this
    baseline alone dissolves five of the seven spurious flags; the
    in-session retime clears what survives (module docstring)."""
    out: dict[str, float] = {}
    for n, t_prev in prev_queries.items():
        if n in exclude or t_prev < MIN_SIGNAL_SEC:
            continue
        chain = prev_recent.get(n) or [t_prev]
        out[n] = statistics.median(chain) * med_ratio
    return out


def flag_candidates(
    times: dict[str, float],
    baselines: dict[str, float],
    threshold: float = FLAG_THRESHOLD,
) -> dict[str, float]:
    """Queries whose fresh time exceeds their robust baseline by
    ``threshold`` — CANDIDATES only; bench re-times each in-session and
    confirms or clears the flag (module docstring)."""
    return {
        n: round(t / baselines[n], 3)
        for n, t in times.items()
        if n in baselines and t / baselines[n] >= threshold
    }


def updated_recent(
    times: dict[str, float],
    prev_recent: dict[str, list[float]],
    med_ratio: float,
    keep: int = 3,
) -> dict[str, list[float]]:
    """Next round's ``recent`` chains: today's fresh value first, older
    entries re-scaled into today's units by this pair's median anchor."""
    out: dict[str, list[float]] = {}
    for n, t in times.items():
        old = [round(v * med_ratio, 3) for v in (prev_recent.get(n) or [])]
        out[n] = [t] + old[: keep - 1]
    return out


def _time_query(
    spark, sf_dir: str, name: str, trials: int = 3, stats_out: dict | None = None
) -> float:
    from syntenybrowserv2_etl_spark import queries as q

    fn = q.REGISTRY[name].spark_fn
    if stats_out is None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    else:
        # Round 18 (VERDICT r17 #2): job/stage/task counts, collected on
        # the UNTIMED warm-up pass via a job group — the timed min-of-N
        # passes below are byte-identical to every previous round's. At
        # sf0.1 wall ratios between core counts sit at ~1.0 (sub-second,
        # latency-bound queries), so task counts are the scale evidence:
        # a fan_out/salted path must show max_stage_tasks > 1 where the
        # 1-row-group testdata scan would otherwise plan one task.
        from tools.jobstats import query_jobstats

        stats_out[name] = query_jobstats(spark, fn, sf_dir, f"bench:{name}")
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    from syntenybrowserv2_etl_spark import queries as q
    from syntenybrowserv2_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    bench_full = os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    demo_sf_dir = (
        sf_dir
        if bench_full
        else os.environ.get("SPARK_GRAFT_DEMO_SF_DIR", "/root/testdata/sf0.01")
    )
    demo_sf = (
        float(demo_sf_dir.rstrip("/").rsplit("sf", 1)[-1])
        if "sf" in demo_sf_dir
        else -1.0
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    spark = get_spark("bench")
    # warm-up: touch every input table once (JVM + codegen + FS cache)
    for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        q.t(spark, sf_dir, name).count()

    prev = None
    try:
        with open(os.path.join(repo, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        pass

    cal_start = round(
        sum(_time_query(spark, sf_dir, n) for n in CALIBRATION), 3
    )

    # Per-query: one untimed warm-up pass, then three timed passes keeping
    # the min. Single-shot timings on a 32-core local JVM are dominated by
    # C2-JIT of each query's generated code plus host scheduler noise
    # (~2-7x spread observed, incl. one 13s outlier on a 1s query); min of
    # three steady-state passes is the number that reflects engine
    # throughput. Round 12 (VERDICT r11 #4): EVERY registry entry is
    # timed, not just the headline+curation suite. Round 17: the exact
    # demos run in their own lane at the demo SF (module docstring).
    demos = set(EXPENSIVE_EXACT_DEMOS)
    this_round, n_corr = _bench_round(repo, prev)
    times: dict[str, float] = {}
    task_stats: dict[str, dict] = {}
    for name in q.REGISTRY:
        if name in demos:
            continue
        times[name] = round(
            _time_query(spark, sf_dir, name, stats_out=task_stats), 3
        )
    demo_times = {
        name: round(_time_query(spark, demo_sf_dir, name), 3)
        for name in EXPENSIVE_EXACT_DEMOS
    }

    cal_end = round(sum(_time_query(spark, sf_dir, n) for n in CALIBRATION), 3)
    # Probe factors: recorded as drift observability + the
    # drift_disagreement cross-check. The END probe is steady-state; the
    # start probe is systematically JIT-inflated but start-to-start is
    # its own apples-to-apples series (round 16). A prev detail recorded
    # at a DIFFERENT scale factor never compares (every ratio would be a
    # scale artifact): it still anchors the round label, but contributes
    # no probes, baselines or recent chains.
    prev_cmp = prev if (prev is not None and prev.get("sf") == sf) else None
    prev_cal = (prev_cmp or {}).get("drift", {}).get("calibration_end_sec")
    drift_factor = round(cal_end / prev_cal, 4) if prev_cal else None
    prev_cal_start = (prev_cmp or {}).get("drift", {}).get("calibration_start_sec")
    drift_factor_start = (
        round(cal_start / prev_cal_start, 4) if prev_cal_start else None
    )
    start_end_agreement = (
        round(drift_factor_start / drift_factor, 4)
        if drift_factor_start and drift_factor
        else None
    )

    prev_queries = (prev_cmp or {}).get("queries", {})
    prev_carried = set((prev_cmp or {}).get("carried", []))  # pre-r17 details
    drift_factor_median = suite_median_ratio(times, prev_queries, prev_carried)
    drift_disagreement = (
        start_end_agreement is not None
        and not (0.8 <= start_end_agreement <= 1.25)
    ) or (
        drift_factor_median is not None
        and drift_factor is not None
        and not (0.8 <= drift_factor_median / drift_factor <= 1.25)
    )
    # cum_drift: long-horizon host-epoch chain (kept for the committed
    # history's readability; flags no longer depend on it).
    prev_cum = (prev_cmp or {}).get("drift", {}).get("cum_drift") or 1.0
    cum_drift = round(prev_cum * (drift_factor_median or drift_factor or 1.0), 4)

    # --- robust flags + in-session retime adjudication (round 17) ---
    anchor = drift_factor_median if drift_factor_median else (drift_factor or 1.0)
    prev_recent = {
        n: v
        for n, v in ((prev_cmp or {}).get("recent", {}) or {}).items()
        if isinstance(v, list) and v
    }
    baselines = robust_baselines(prev_queries, prev_recent, anchor, prev_carried)
    candidates = flag_candidates(times, baselines)
    retimes: dict[str, float] = {}
    confirmed: dict[str, float] = {}
    for name in sorted(candidates):
        rt = round(_time_query(spark, sf_dir, name), 3)
        retimes[name] = rt
        t_final = min(times[name], rt)
        times[name] = t_final
        r = t_final / baselines[name]
        if r >= FLAG_THRESHOLD:
            confirmed[name] = round(r, 3)
    recent = updated_recent(times, prev_recent, anchor)

    # demo lane: same-SF comparison only, with chains kept PER SF in
    # recent_by_sf so an incompatible run (SPARK_GRAFT_BENCH_FULL times
    # the lane at the main SF) never destroys the normal lane's history
    # — the other SFs' chains carry through untouched (their units go
    # one host-epoch stale per skipped round; the retime adjudication
    # backstops that). The lane has its own candidates/retimes maps —
    # demo retimes are measured at the demo SF and must not mix into
    # drift.retimes next to full-SF values.
    prev_lane = (prev_cmp or {}).get("demo_lane") or {}
    prev_lane_by_sf = dict(prev_lane.get("recent_by_sf") or {})
    if prev_lane.get("sf") is not None and prev_lane.get("recent"):
        # back-compat: details before recent_by_sf keyed chains by the
        # lane's single sf
        prev_lane_by_sf.setdefault(str(prev_lane["sf"]), prev_lane["recent"])
    demo_flags: dict[str, float] = {}
    demo_candidates: dict[str, float] = {}
    demo_retimes: dict[str, float] = {}
    demo_recent_prev = {
        n: v
        for n, v in (prev_lane_by_sf.get(str(demo_sf)) or {}).items()
        if isinstance(v, list) and v
    }
    demo_prev_queries = (
        prev_lane.get("queries") or {}
        if prev_lane.get("sf") == demo_sf
        else {n: c[0] for n, c in demo_recent_prev.items()}
    )
    if demo_prev_queries:
        demo_base = robust_baselines(
            demo_prev_queries, demo_recent_prev, anchor
        )
        demo_candidates = flag_candidates(demo_times, demo_base)
        for name in sorted(demo_candidates):
            rt = round(_time_query(spark, demo_sf_dir, name), 3)
            demo_retimes[name] = rt
            t_final = min(demo_times[name], rt)
            demo_times[name] = t_final
            rr = t_final / demo_base[name]
            if rr >= FLAG_THRESHOLD:
                demo_flags[name] = round(rr, 3)
    demo_recent = updated_recent(
        demo_times, demo_recent_prev, anchor if demo_prev_queries else 1.0
    )
    recent_by_sf = dict(prev_lane_by_sf)
    recent_by_sf[str(demo_sf)] = demo_recent

    detail = {
        "metric": "headline_queries_wall_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "headline15_sec": round(sum(times[n] for n in HEADLINE), 3),
        # suite83 minus its five demo-lane members (definitional break,
        # round 17 — module docstring); the name is kept for the history,
        # though it sums 76 queries since q93 and q97 were deleted
        "suite78_prod_sec": round(
            sum(times[n] for n in HEADLINE + CURATION if n not in demos), 3
        ),
        "demo_lane": {
            "sf": demo_sf,
            "sf_dir": demo_sf_dir,
            "queries": demo_times,
            "total_sec": round(sum(demo_times.values()), 3),
            "recent": demo_recent,
            "recent_by_sf": recent_by_sf,
            "flag_candidates_ge_1p3": demo_candidates,
            "retimes": demo_retimes,
            "flags_ge_1p3": demo_flags,
        },
        "drift": {
            "calibration_queries": CALIBRATION,
            "calibration_start_sec": cal_start,
            "calibration_end_sec": cal_end,
            "prev_calibration_end_sec": prev_cal,
            "prev_calibration_start_sec": prev_cal_start,
            "drift_factor": drift_factor,
            "drift_factor_start": drift_factor_start,
            "drift_factor_median": drift_factor_median,
            "start_end_agreement": start_end_agreement,
            "drift_disagreement": drift_disagreement,
            "cum_drift": cum_drift,
            "flag_candidates_ge_1p3": candidates,
            "retimes": retimes,
            "normalized_regressions_ge_1p3": confirmed,
        },
        "recent": recent,
        # round 18 additions (VERDICT r17 #2) — observability only, no
        # timing-path change: per-query job/stage/task counts from the
        # untimed warm-up pass.
        "tasks": task_stats,
        "round": this_round,
        "n_correctness_files": n_corr,
    }
    detail_path = os.path.join(repo, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    compact = {
        "metric": "headline_queries_wall_sec",
        "value": detail["value"],
        "unit": "sec",
        "queries": {n: times[n] for n in HEADLINE},
        "sf": sf,
        "headline15_sec": detail["headline15_sec"],
        "suite78_prod_sec": detail["suite78_prod_sec"],
        "demo_lane_sf": demo_sf,
        "demo_lane_sec": detail["demo_lane"]["total_sec"],
        "n_queries": len(times),
        "calibration_sec": cal_end,
        "drift_factor": drift_factor,
        "drift_factor_median": drift_factor_median,
        "drift_disagreement": drift_disagreement,
        "n_flag_candidates": len(candidates),
        "n_norm_regressions": len(confirmed),
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
