#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "queries":
{name: sec, ...}, "sf": ...}.

Timing excludes JVM/session startup; each query is forced end-to-end
with measure.force_count (count + an all-columns hash aggregate: full
compute, no driver transfer of result payloads — a bare .count() lets
Catalyst prune output-only columns/windows and eliminate joins to
unique-key aggregates, which un-measured 29 plans; round-9 audit).
The cache is cleared after every run so persisted intermediates from
one query never occupy executor memory during the next, and every
query reports the MIN of 3 runs (round 8; was median-of-3).  Min is
the right estimator for a regression gate: the quantity under test is
the tree's steady-state cost, and every source of run-to-run spread
here (GC pauses, JIT/codegen first-run compile, a loaded driver host
benching right after its own 50-query sweep) inflates, never
deflates, a run.  BENCH_r07 demonstrated the failure mode: median
headline_41 printed 68.4 s for a tree whose idle line is 38.6-43.8 s
because the driver environment was loaded; the min of the same three
runs is far closer to the tree's true cost.  A transient that spans
all three back-to-back runs (invisible to the spread ratio) is caught
by a SECOND full single-run pass minutes later — per-query min across
both passes is the reported figure.  The artifact is also
self-adjudicating now: it records /proc/loadavg at start and end,
page-cache occupancy, per-query max/min spread ratios, and the
second-pass improvement mass, so a reader can mechanically discount
an inflated reading instead of chasing a phantom regression (VERDICT
r7 item #2).

Round 9 (ADVICE r8): alongside the min, every query's pass-1
median-of-3 is emitted (queries_median + the headline_41_median
subtotal) so the r1-r7 median history stays comparable and
variance-type regressions stay visible; spread ratios are computed
over ALL samples including pass 2 (denominated in the final reported
min); and pass-2 budget skips are enumerated by name
(env.pass2_skipped_names), so a degraded estimator is labeled
per-query, never silent.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# The original 41-query headline set — kept as a named subtotal
# ("headline_41" in the output) so the round-over-round comparison
# stays like-for-like as later batches graduate into HEADLINE.
HEADLINE_41 = [
    "q_flagship_star_rollup",
    "q_join_multiway",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q9",
    "q_tpch_q13",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_stats_moments",
    "q_range_join",
    "q_explode_terms",
    "q_groupby_count",
    "q_time_dim",
    "q_top_k_per_group",
    "q_sessionize",
    "q_asof_join",
    "q_dedup_exact",
    "q_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_simhash",
    "q_knn_cosine",
    "q_embed_neardup",
    "q_text_quality",
    "q_lang_id",
    "q_doc_chunking",
    "q_sequence_packing",
    "q_contamination",
    "q_stream_hourly_counts",
    # round-3 additions (VERDICT r02 item #8): the heaviest post-rotation
    # operators, under the same cold-cache 2x alarm as the rest.
    "q_bloom_filter_join",
    "q_interval_overlap",
    "q_line_dedup",
    "q_vocab_build",
    "q_hard_negatives",
    # late-round-3 additions: the heaviest of the new training-loader
    # operators (PQ index build + search, prefix-sum global shuffle,
    # join-free skip-gram expansion), same cold-cache 2x alarm. The
    # 35-query subtotal above stays comparable to the r03 history.
    "q_knn_pq",
    "q_global_shuffle",
    "q_skipgram_pairs",
    # time-series/sketch + drift additions: heaviest of the family,
    # same cold-cache 2x alarm. The 38-query subtotal above stays
    # comparable to the late-round-3 history.
    "q_sketch_top_terms",
    "q_drift_psi",
    "q_interpolate_linear",
]

# Round-4 additions: graduated into HEADLINE at round 6 after two
# rounds of "incoming" history (r4 + r5), per the bench design.
GRADUATED_R4 = [
    "q_kn_bigram_ppl",
    "q_bpe_train",
    "q_pipeline_ccnet",
    "q_preference_pairs",
    "q_ann_recall",
    "q_multimodal_dhash",
    "q_stream_bloom_dedup",
    "q_sql_pipe",
    "q_stream_cdc_apply",
    "q_apply_in_arrow",
    "q_dataset_report",
    "q_bpe_encode",
    "q_matryoshka_recall",
    "q_negative_sampling",
    "q_cluster_purity",
]

# Round-5 additions: graduated into HEADLINE at round 7 after two
# rounds of "incoming" history (r5 + r6), per the bench design.
GRADUATED_R5 = [
    "q_dsir_weights",
    "q_char_entropy",
    "q_trigram_backoff",
    "q_pca_variance",
    "q_bt_reward",
    "q_rouge_overlap",
    "q_span_corruption",
    "q_ngram_novelty",
    "q_stream_dsir_gate",
    "q_zipf_fit",
    "q_lsh_quality",
    "q_minhash_est",
    "q_length_kl",
    "q_tokenizer_fertility",
    "q_embed_centroid_shift",
    "q_quality_calibration",
    "q_lang_confusion",
    "q_dedup_cluster_stats",
    "q_simhash_hamming_hist",
    "q_graph_modularity",
    "q_ngram_entropy_rate",
    "q_stream_gopher_gate",
]

# Round-6 additions: graduated into HEADLINE at round 8 after two
# rounds of "incoming" history (r6 + r7), per the bench design.  The
# last two are the round-6 optimization targets pulled under the
# bench's own signal (CC one-action-per-round + min-neighbor seed,
# every-2nd-round checkpoint cadence); they graduate with the batch.
GRADUATED_R6 = [
    "q_pass_at_k",
    "q_cross_source_leakage",
    "q_annotator_agreement",
    "q_dsir_ess",
    "q_ivf_probe_recall",
    "q_dedup_threshold_sweep",
    "q_pii_prevalence",
    "q_quality_lr_train",
    "q_filter_ablation",
    "q_dedup_survivor_bias",
    "q_split_leakage",
    "q_encoding_audit",
    "q_sft_turn_audit",
    "q_vocab_growth",
    "q_dedup_clusters",
    "q_pagerank_sim_graph",
]

# Round-7 addition: graduated into HEADLINE at round 9 after two
# rounds of "incoming" history (r7 + r8), per the bench design.
GRADUATED_R7 = [
    "q_code_switch_audit",
]

# Round-8 additions: graduated into HEADLINE at round 10 after two
# rounds of "incoming" history (r8 + r9), per the bench design.
GRADUATED_R8 = [
    "q_dedup_merge_ingest",
    "q_tokenizer_roundtrip",
]

HEADLINE = (
    HEADLINE_41
    + GRADUATED_R4
    + GRADUATED_R5
    + GRADUATED_R6
    + GRADUATED_R7
    + GRADUATED_R8
)

# New batches measure under a separate "incoming" key until they have
# two rounds of history; they graduate into HEADLINE after that.
INCOMING = [
    # round-9 addition (graduates to HEADLINE at round 11)
    "q_ivf_merge_ingest",
    # round-10 addition (graduates to HEADLINE at round 12)
    "q_stream_ivf_gate",
]


def _read_loadavg() -> list[float] | None:
    """1/5/15-minute load averages, or None off-Linux.  Recorded so the
    artifact itself says whether the host was busy: on a 32-cpu box a
    1-min load well above ~32 at bench start means timed runs competed
    for cores and the totals overstate the tree's cost."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _read_cached_kb() -> int | None:
    """Page-cache occupancy (kB) from /proc/meminfo.  The sf0.1 parquet
    set is ~100 MB; a start value far below that after the warmup loop
    means the cache was being evicted under memory pressure and timed
    scans re-paid disk reads."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("Cached:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def main() -> None:
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    # Wall budget for the OPTIONAL second pass (see below): idle runs
    # finish pass 1 in ~19 min and pass 2 adds ~5; a loaded driver
    # host could stretch both, so pass 2 stops early rather than risk
    # an external timeout eating the whole artifact.  The skip count
    # is recorded — a partially-skipped pass 2 is still a valid
    # best-of-available estimator per query.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "2100"))

    from big_data_projects_spark.measure import force_count
    from big_data_projects_spark.session import ensure_runtime_conf, get_spark
    from big_data_projects_spark.queries import REGISTRY

    spark = get_spark(app_name="bdp-bench", cpus=cpus)

    # Warm the JVM/IO path outside measurement.  A bare parquet count()
    # is answered from footer metadata without touching data pages, so
    # the old per-table count() left the OS page cache COLD and the
    # driver's bench paid the first real read inside a timed query
    # (BENCH_r06 headline_41 ran ~15% over the same tree's warm idle
    # line — VERDICT r6 item #4).  count(col) per column forces every
    # column chunk through the scan, warming page cache + codegen + the
    # events nanos conversion for real.
    from pyspark.sql import functions as F

    from big_data_projects_spark.data import TABLES, load_table

    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()

    def run_once(name: str) -> float:
        q = REGISTRY[name]
        # Session hygiene OUTSIDE the timed section (the registry's
        # wrapped builder does the same clearCache+gc, but inside the
        # build — that belongs in a correctness sweep, not a timing):
        # drop prior persisted intermediates so they neither skew this
        # query's memory nor turn a repeat run into a cache read, and
        # let the cleaner reclaim broadcast residue.  This also answers
        # the r7 ADVICE note on the eval-panel persists (q_ann_recall /
        # q_ivf_probe_recall / q_matryoshka_recall, queries_llm.py):
        # Spark's cache is plan-keyed, so without this clear the 2nd
        # and 3rd timed runs would reuse the panel cached by run 1 —
        # with it, every timed run re-persists (and re-pays) the panel
        # scan, so min-of-3 measures full per-run work.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        builder = q.raw or q.spark
        t0 = time.perf_counter()
        # force_count, not count(): under count() Catalyst prunes
        # output-only columns/windows and eliminates joins to
        # unique-key aggregates — 29 benched/smoked plans lost work
        # that way, up to bare-scan for the merge-ingest shapes
        # (round-9 audit; see big_data_projects_spark/measure.py).
        force_count(builder(spark, sf_dir))
        dt = time.perf_counter() - t0
        # Conf hygiene: a builder that overrides session confs for its
        # own plan (q_bloom_filter_join, q_bucketed_join) relies on the
        # registry wrapper's ensure_runtime_conf before the next build;
        # the bench runs the raw builders, so it restores here, which
        # also bounds the leak for the last query of the run.
        ensure_runtime_conf(spark)
        return dt

    # All samples per query are kept so min / median / spread derive
    # from ONE run record at the end: min over every sample (pass 1 +
    # pass 2) is the regression-gate estimator; the pass-1 median-of-3
    # keeps the r1-r7 median series comparable (ADVICE r8 #1 — min
    # alone deflates cross-round "best on record" claims and hides
    # variance-type regressions); spread is max/min over ALL samples,
    # so it is denominated in the final reported timing, not a
    # superseded pass-1 min (ADVICE r8 #3).
    all_runs: dict[str, list[float]] = {}

    def run_set(names: list[str]) -> None:
        for name in names:
            # Three runs for EVERY query (round 8; was median-of-3
            # reporting).  The first run carries ~0.2-1.1 s of
            # whole-stage-codegen JIT and a loaded host inflates any
            # run; neither ever makes a run FASTER than the tree's
            # steady-state cost, so min is the regression-gate
            # estimator (see module docstring).
            all_runs[name] = [run_once(name), run_once(name), run_once(name)]

    load_start = _read_loadavg()
    cached_kb_start = _read_cached_kb()
    headline_names = list(HEADLINE)
    incoming_names = [n for n in INCOMING if n in REGISTRY]
    run_set(headline_names)
    run_set(incoming_names)
    # Second full pass, single-run (round 8): a transient that spans
    # all three back-to-back runs of a query (suite-artifact writeback,
    # a passing background task) inflates even the min, and the spread
    # ratio stays LOW so it is invisible to the noise record — observed
    # as q_tpch_q5 reading 4.4 s (all three runs) in an early bench
    # section whose 15-min loadavg still carried a just-finished test
    # suite, vs 1.1 s idle.  Re-measuring every query ONCE, minutes
    # later in wall-clock, gives each a sample at two well-separated
    # times; min() absorbs whichever window was quiet.  This is the
    # best-of-two-full-passes estimator VERDICT r7 item #2 asked for,
    # with pass 2 at a third of the cost.
    pass2_gain, pass2_improved, pass2_skipped_names = run_pass2(
        headline_names + incoming_names,
        all_runs,
        run_once,
        lambda: time.perf_counter() - t_start > budget_s,
    )

    def _min3(runs: dict[str, list[float]], names: list[str]):
        timings = {n: round(min(runs[n]), 3) for n in names}
        # Pass-1 median-of-3 — the estimator r1-r7 reported; pass-2
        # samples are excluded so the series stays like-for-like.
        medians = {n: round(sorted(runs[n][:3])[1], 3) for n in names}
        return timings, medians

    timings, medians = _min3(all_runs, headline_names)
    incoming, inc_medians = _min3(all_runs, incoming_names)
    medians.update(inc_medians)
    spreads = compute_spreads(all_runs)
    env = {
        "load_start": load_start,
        "load_end": _read_loadavg(),
        "cached_kb_start": cached_kb_start,
        "cached_kb_end": _read_cached_kb(),
        "cpus": cpus,
        "pass2_gain_sec": round(pass2_gain, 3),
        "pass2_improved": pass2_improved,
        "pass2_skipped": len(pass2_skipped_names),
        # Named so a reader can discount EXACTLY the lines whose
        # estimator degraded to pass-1 min-of-3 (VERDICT r8 "what's
        # wrong" #1) — an empty list certifies a complete pass 2.
        "pass2_skipped_names": pass2_skipped_names,
        "wall_sec": round(time.perf_counter() - t_start, 1),
    }
    full, summary = build_output(
        timings, incoming, sf_dir, spreads, env, medians
    )
    summary = pack_summary_queries(summary, {**timings, **incoming})
    # Machine-readable per-query reference (VERDICT r9 item #2): when
    # SPARK_GRAFT_BASELINE_OUT names a path, emit the consolidated
    # current-era baseline — per-query min + pass-1 median under the
    # honest all-columns estimator — so the per-query 2x alarm is
    # mechanically checkable against ONE file instead of BASELINE.md
    # prose.  Off by default: the driver's per-round bench must never
    # overwrite the committed reference with a loaded-host reading.
    baseline_out = os.environ.get("SPARK_GRAFT_BASELINE_OUT")
    if baseline_out:
        with open(baseline_out, "w") as f:
            json.dump(baseline_current_record(full), f, indent=1)
    print(json.dumps(full))
    # Compact summary line LAST: the driver parses the last line of a
    # 2000-char tail capture (proven by BENCH_r05.json — a single
    # 1999-char truncated line, "parsed": null), so the final line must
    # both fit that window AND now carry per-query timings (VERDICT r12
    # item #1: PERF_r12 had per_query={} because the totals-only
    # summary was all the driver could see).  All 99 names + values
    # cannot fit 2000 chars (the names alone are 1529), so
    # pack_summary_queries greedily includes the most expensive
    # queries under a hard serialized budget and labels the omitted
    # cheap tail by count+mass; the FULL per-query record (3-decimal,
    # medians, spreads) still prints above and is committed per round
    # under plans/.  Compact separators buy ~15% more entries.
    print(json.dumps(summary, separators=(",", ":")))


def compute_spreads(all_runs: dict[str, list[float]]) -> dict[str, float]:
    """Per-query max/min ratio over EVERY recorded sample — pass 1 AND
    pass 2 — so the noise record is denominated in the same (final)
    min the artifact reports (ADVICE r8 #3 / VERDICT r9 item #3): a
    pass-2-improved query's spread grows, correctly flagging that its
    pass-1 samples ran hot; it can never disagree with the reported
    timing's denominator."""
    return {
        n: round(max(rs) / max(min(rs), 1e-9), 2)
        for n, rs in all_runs.items()
    }


def baseline_current_record(full: dict) -> dict:
    """Compact consolidated reference derived from one bench record:
    {query: {min, median}} + the estimator/sf/env provenance.  The
    committed BASELINE_CURRENT.json is regenerated from an IDLE run of
    this bench on the round's final tree; per-query regression checks
    (the 2x alarm) diff future bench records against it."""
    queries = {**full["queries"], **full["incoming"]}
    return {
        "estimator": full["estimator"],
        "sf": full["sf"],
        "env": full["env"],
        "note": (
            "Consolidated per-query reference under the honest "
            "all-columns forcing (min_of_3_plus_pass2_allcols). "
            "Supersedes the r1-r8 per-query BASELINE.md history for "
            "the 27 lines re-metered by the round-9 count()-forcing "
            "fix; cross-round per-query comparisons are valid only "
            "within this estimator era."
        ),
        "queries": {
            n: {"min": queries[n], "median": full["queries_median"].get(n)}
            for n in sorted(queries)
        },
    }


def run_pass2(
    names: list[str],
    all_runs: dict[str, list[float]],
    run_once,
    over_budget,
) -> tuple[float, int, list[str]]:
    """Second-pass loop body, factored out so the budget escape hatch
    is unit-testable: every query the budget skips must be ENUMERATED
    by name (not just counted) so a reader of a loaded-host artifact
    can discount exactly the lines whose estimator degraded to pass-1
    min-of-3 (VERDICT r8 "what's wrong" #1).  Appends each pass-2
    sample to ``all_runs`` in place; returns (gain_sec, improved_count,
    skipped_names)."""
    gain = 0.0
    improved = 0
    skipped: list[str] = []
    for name in names:
        if over_budget():
            skipped.append(name)
            continue
        t = run_once(name)
        if t < min(all_runs[name]):
            gain += min(all_runs[name]) - t
            improved += 1
        all_runs[name].append(t)
    return round(gain, 3), improved, skipped


def build_output(
    timings: dict[str, float],
    incoming: dict[str, float],
    sf_dir: str,
    spreads: dict[str, float] | None = None,
    env: dict | None = None,
    medians: dict[str, float] | None = None,
) -> tuple[dict, dict]:
    """(full per-query record, compact totals-only summary) — the
    summary repeats every total so it parses alone when the driver's
    tail window cuts the full line.  `spreads` maps query -> max/min
    run ratio; `env` carries loadavg + page-cache readings.  Both ride
    in the summary too (the self-adjudication fields must survive the
    driver's tail truncation).  `medians` maps query -> pass-1
    median-of-3: the r1-r7 estimator, emitted alongside min so the
    historical median series stays comparable (ADVICE r8 #1)."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    spreads = spreads or {}
    headline_41 = round(
        sum(timings[n] for n in HEADLINE_41 if n in timings), 3
    )
    # Era subtotals: headline_41 = the original r1-r3 set, headline_56
    # adds the r4 graduates, headline_78 adds the r5 graduates — each
    # round's record stays comparable to every earlier round even as
    # later batches graduate.
    headline_56 = round(
        sum(
            timings[n]
            for n in HEADLINE_41 + GRADUATED_R4
            if n in timings
        ),
        3,
    )
    headline_78 = round(
        sum(
            timings[n]
            for n in HEADLINE_41 + GRADUATED_R4 + GRADUATED_R5
            if n in timings
        ),
        3,
    )
    headline_94 = round(
        sum(
            timings[n]
            for n in HEADLINE_41 + GRADUATED_R4 + GRADUATED_R5 + GRADUATED_R6
            if n in timings
        ),
        3,
    )
    headline_95 = round(
        sum(
            timings[n]
            for n in HEADLINE_41
            + GRADUATED_R4
            + GRADUATED_R5
            + GRADUATED_R6
            + GRADUATED_R7
            if n in timings
        ),
        3,
    )
    # The historical median series (r1-r7 reported median-of-3): the
    # like-for-like 41-query subtotal under that estimator, so a reader
    # can compare any round's line to any other without an estimator
    # discontinuity.
    medians = medians or {}
    headline_41_median = (
        round(sum(medians[n] for n in HEADLINE_41 if n in medians), 3)
        if medians
        else None
    )
    # Noise record: per-query max/min ratios, compressed to the median
    # ratio plus the queries whose spread exceeded 1.5x.  A quiet host
    # reads ~1.0-1.3 median; BENCH_r07-style load shows up as a high
    # median and a long noisy list — mechanically discountable.
    ratios = sorted(spreads.values())
    noise_median = ratios[len(ratios) // 2] if ratios else None
    noisy = {n: r for n, r in spreads.items() if r > 1.5}
    # Mechanical per-query adjudication vs the committed idle reference
    # (VERDICT r10 #2): every bench line now carries the ratio of each
    # query's min to its BASELINE_CURRENT.json min, compressed to the
    # median ratio + the over-1.25x watch list + the over-2x alarm
    # list.  Read WITH the env fields: a hot load_start discounts the
    # watch list (host noise inflates mins), but the 2x alarm on a
    # quiet box is the profile-before-it-drifts trigger.
    vs_baseline = _vs_baseline_current({**timings, **incoming}, sf_val=sf_val)
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "headline_41": headline_41,
        "headline_56": headline_56,
        "headline_78": headline_78,
        "headline_94": headline_94,
        "headline_95": headline_95,
        "headline_41_median": headline_41_median,
        "incoming": incoming,
        "incoming_total": round(sum(incoming.values()), 3),
        "estimator": "min_of_3_plus_pass2_allcols",
        "noise_median_ratio": noise_median,
        "noisy_queries": noisy,
        "vs_baseline": vs_baseline,
        "env": env,
        "sf": sf_val,
    }
    top5 = dict(
        sorted({**timings, **incoming}.items(), key=lambda kv: -kv[1])[:5]
    )
    full["top5"] = top5
    # Summary-only compressions (r13, to make room for the per-query
    # map the driver's 2000-char parse window must now carry — see
    # main()): vs_baseline keeps the ratios but compresses the watch/
    # alarm MAPS to counts (the full line and the committed artifact
    # keep the named lists); env keeps the load/cpu/wall adjudication
    # fields and drops the page-cache/pass-2 detail (ditto).  The
    # queries map itself is merged in by pack_summary_queries.
    if isinstance(vs_baseline, dict) and "median_ratio" in vs_baseline:
        vs_baseline_slim = {
            "median_ratio": vs_baseline["median_ratio"],
            "n_compared": vs_baseline["n_compared"],
            "n_over_1_25": len(vs_baseline["over_1_25"]),
            "n_over_2": len(vs_baseline["over_2"]),
        }
    else:
        vs_baseline_slim = vs_baseline
    env_slim = (
        {
            k: env[k]
            for k in ("load_start", "load_end", "cpus", "wall_sec")
            if k in env
        }
        if env
        else env
    )
    summary = {
        "metric": "headline_queries_total_wall",
        "value": full["value"],
        "unit": "sec",
        "headline_41": headline_41,
        "headline_56": headline_56,
        "headline_78": headline_78,
        "headline_94": headline_94,
        "headline_95": headline_95,
        "headline_41_median": headline_41_median,
        "incoming_total": full["incoming_total"],
        "n_headline": len(timings),
        "n_incoming": len(incoming),
        "estimator": "min_of_3_plus_pass2_allcols",
        "noise_median_ratio": noise_median,
        "n_noisy": len(noisy),
        "vs_baseline": vs_baseline_slim,
        "env": env_slim,
        "sf": sf_val,
    }
    return full, summary


# Hard serialized-length budget for the final stdout line: the driver
# parses the last line of a 2000-char tail capture (BENCH_r05.json's
# lone 1999-char line with "parsed": null is the empirical proof of the
# window), so the line must stay safely under it or the WHOLE record
# becomes unparseable.
SUMMARY_LINE_BUDGET = 1900


def pack_summary_queries(
    summary: dict, qmap: dict[str, float], budget: int = SUMMARY_LINE_BUDGET
) -> dict:
    """Merge as many per-query timings as fit into the summary line.

    The driver's per-query adjudication (PERF per_query + the scaling
    block) reads the parsed last line, but all benched names + values
    exceed the parse window — so pack greedily by DESCENDING cost (the
    regression-relevant mass; ties by name for determinism), values at
    2 decimals, re-serializing after each add so the budget is exact.
    Entries that do not fit are labeled, never silent (guide §1 /
    "no silent caps"): ``n_omitted`` counts them and ``omitted_total``
    carries their summed seconds, so value == sum(queries) +
    omitted_total reconciles mechanically.  The full 3-decimal map
    still prints in the (earlier) full-record line.
    """
    items = sorted(qmap.items(), key=lambda kv: (-kv[1], kv[0]))
    packed: dict[str, float] = {}

    def rendered() -> dict:
        rec = dict(summary)
        rec["queries"] = {n: round(v, 2) for n, v in packed.items()}
        rec["n_omitted"] = len(items) - len(packed)
        rec["omitted_total"] = round(
            sum(v for n, v in items if n not in packed), 2
        )
        return rec

    for name, t in items:
        packed[name] = t
        if len(json.dumps(rendered(), separators=(",", ":"))) > budget:
            del packed[name]
            # keep going: a later (cheaper, shorter-rendered) entry may
            # still fit — coverage beats prefix purity here.
    return rendered()


def _vs_baseline_current(
    timings: dict[str, float], path: str | None = None,
    sf_val: float | str | None = None,
) -> dict | None:
    """Per-query ratio of this run's min to the committed idle
    reference (BASELINE_CURRENT.json).  Returns None when the
    reference is absent; otherwise {median_ratio, n_compared,
    over_1_25 (watch), over_2 (alarm)} — the watch/alarm thresholds
    BASELINE.md's round-10 note hand-computed, now emitted by every
    bench run so the adjudication is mechanical (VERDICT r10 #2).

    Cross-SF guard (ADVICE r11 #3): the reference records the sf it
    was measured at; comparing a run at a DIFFERENT sf would emit
    confidently wrong watch/alarm lists under a field billed as
    mechanical adjudication, so the compare is skipped when the
    scales differ — with an explicit ``{"skipped": reason}`` record
    (r12: a bare None was indistinguishable from "no reference
    committed", inviting a pointless baseline regeneration)."""
    path = path or os.path.join(os.path.dirname(__file__), "BASELINE_CURRENT.json")
    try:
        with open(path) as f:
            base = json.load(f)
        ref = base["queries"]
    except (OSError, KeyError, ValueError):
        return None
    ref_sf = base.get("sf")
    if sf_val is not None and ref_sf is not None and ref_sf != sf_val:
        return {"skipped": f"baseline sf={ref_sf!r} != run sf={sf_val!r}"}
    ratios = {
        n: round(t / ref[n]["min"], 2)
        for n, t in timings.items()
        if n in ref and ref[n]["min"] > 0
    }
    if not ratios:
        return None
    ordered = sorted(ratios.values())
    return {
        "median_ratio": ordered[len(ordered) // 2],
        "n_compared": len(ratios),
        "over_1_25": dict(
            sorted(
                ((n, r) for n, r in ratios.items() if r > 1.25),
                key=lambda kv: -kv[1],
            )
        ),
        "over_2": dict(
            sorted(
                ((n, r) for n, r in ratios.items() if r > 2.0),
                key=lambda kv: -kv[1],
            )
        ),
    }


if __name__ == "__main__":
    main()
