"""Bench harness: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line (compact; values are millisecond integers):
    {"total": <ms>, "nq": <headline query count>, "q": {"tpch_q1": 375, ...}}

The driver's artifact capture keeps only the last 2000 characters of
stdout, and the r6/r7 lines (3-decimal seconds + metric/unit/sf preamble)
overflowed that window — ``BENCH_r06/r07.json`` recorded ``parsed: null``
(VERDICT r7 item 1). The stdout line is therefore minimal: total +
per-query medians as millisecond ints with compact separators, nothing
else — and since r9 the ``q`` dict carries only the DRIVER-WINDOW
queries (≤ 50 by construction), so inventory growth can never overflow
the capture again (the r8 line had 2.7% headroom at 83 queries —
VERDICT r8 item 4). ``total``/``nq`` still describe the FULL headline
set; ``tests/test_bench_contract.py`` pins ≥10% headroom even at 120
inventory queries. Full detail (every query's seconds, per-query MAD,
loadavg, demo pair, run protocol) goes to the committed
``BENCH_DETAIL.json`` sidecar.

``value`` is the total of per-query MEDIANS over ``SPARK_GRAFT_BENCH_RUNS``
(default 3) interleaved rounds — round-robin A,B,…,A,B,… rather than
back-to-back repeats, so one query's GC/JIT debris lands on all queries
evenly and the median shakes out session-interleaving noise (the r1→r2
comparison moved 20% on unchanged code with single-shot timings —
VERDICT r2 #5). A JVM GC runs between rounds. One warm-up of the session
plus a per-query codegen warm-up precede timing.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sample_deepbook_margin_dune_dbt_spark.engine import get_spark  # noqa: E402
from sample_deepbook_margin_dune_dbt_spark.queries import (  # noqa: E402
    DRIVER_QUERY_ORDER,
    FULL_QUERIES,
)

BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q8",
    "tpch_q13",
    "tpch_q18",
    "j1_foj_volume_chain",
    "w1_rownum_dedup",
    "flagship_daily_user_fact",
    "dedup_exact",
    "dedup_boilerplate_segments",
    "dedup_repeated_spans",
    "dedup_strip_spans",
    "decontaminate_spans",
    "text_bigram_lm",
    "dedup_embedding_clusters",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "sessionize",
    "asof_join",
    "dedup_simhash",
    "text_quality",
    # skew demo pair: identical grouped-sum semantics over the manufactured
    # hot key (~50% of events on one key); the salted twin two-phases the
    # aggregate so the hot partials spread over 16 reduce slots
    "skew_plain_agg",
    "skew_salted_agg",
    "skew_salted_join",
    # r3 additions: CC closure (iterative), decontamination (broadcast
    # semi probe), weighted sampling, concat-and-cut packing
    "dedup_clusters",
    "text_decontaminate",
    "sample_weighted",
    "chunk_pack_sequences",
    # r3 curation additions: Gopher repetition rules, PII scrub, int8
    # embedding quantization — all zero-shuffle narrow maps
    "text_repetition",
    "text_pii_redact",
    "emb_quantize_int8",
    "text_bloom_decontaminate",
    # composed curation rollup: fingerprints + PII + quality + repetition
    # in one grouped pass (the LLM-ops "flagship #2")
    "corpus_curation_report",
    # r5 additions (VERDICT r4 item 6): the driver families that had
    # correctness rows but no bench entry — plan regressions in these
    # become visible round-over-round
    "corpus_mixture_select",
    "corpus_epoch_shuffle",
    "multimodal_meta",
    "ann_ivf_pq",
    "w3_lag_delta",
    # r5 driver-rotation families (each now holds a CORRECTNESS row)
    "w_tumbling_agg",
    "skew_hotness_report",
    "corpus_snapshot_diff",
    "text_normalize",
    "corpus_curriculum",
    "a_sketch_union",
    # r5 new families: event-sequence analytics, lake-ops profiling,
    # linear quality-classifier scoring
    "events_funnel",
    "events_retention",
    "events_cohort_value",
    "corpus_profile",
    "text_quality_model",
    # r5 continuation families: idf-weighted top terms (two-shuffle
    # tokenize pipeline), date-spine densification + LOCF, Morton-key
    # layout envelope, drift histogram
    "text_tfidf_topterms",
    "w_gap_fill_locf",
    "corpus_zorder_stats",
    "corpus_length_histogram",
    "events_outlier_zscore",
    "emb_decontaminate",
    # r6: complete the driver↔bench alignment — every query holding a
    # CORRECTNESS row now also holds a bench row, so a plan regression in
    # any driver family is visible round-over-round (VERDICT r5 item 4's
    # attribution goal). The parity drills are sub-0.5 s each.
    "text_heavy_hitters",
    "dedup_embedding_cosine",
    "ann_lsh_bucketed",
    "a_approx_tier",
    "sample_hash_bernoulli",
    "sample_split_leakage_safe",
    "chunk_token_windows",
    "w_hopping_agg",
    "j4_seed_ci_join",
    "p4_watermark",
    "p10_case_trycast",
    "a5_rollup",
    "tpch_q21",
    # r7: keep every driver-window query holding a bench row — the
    # rotated-in span/LM/profile families and the two new TPC-H shapes
    "chunk_pack_efficiency",
    "emb_similarity_profile",
    "events_drift_tvd",
    "tpch_q2",
    "tpch_q9",
    # r8: driver-rotation families (VERDICT r7 item 3 — the r2-vintage
    # queries back in the window) + the new best-fit packing family.
    # Every driver-window query keeps a bench row; rotated-out queries
    # keep theirs for round-over-round continuity.
    "tpch_q4",
    "tpch_q7",
    "tpch_q14",
    "text_langid",
    "j2_left_join",
    "o4_union_all",
    "a_percentiles",
    "chunk_pack_bestfit",
    # r9: driver-rotation families (VERDICT r8 item 2 — the r1-vintage
    # queries back in the window, plus the never-driver pivot/unpivot
    # pair). Rotated-out queries keep their bench rows for continuity.
    "a5_cube",
    "a5_grouping_sets",
    "j_semi_anti",
    "o5_set_ops",
    "p_scalar_subquery",
    "a_pivot",
    "a_unpivot",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    # r9 continuation: the new retrieval/linkage/attribution families
    # (BM25 lexical ranker, Levenshtein-verified LSH candidates,
    # quality-argmax canonical selection, blocked record-linkage audit,
    # first/last-touch attribution)
    "text_bm25_topk",
    "dedup_edit_distance",
    "dedup_canonical_select",
    "linkage_blocked_report",
    "events_attribution",
    "dedup_containment",
    # r9 continuation 2: novelty / hybrid-retrieval family (corpus-
    # cumulative shingle novelty, BM25+QL reciprocal-rank fusion,
    # hard-negative mining band, source-level quality gate)
    "text_novelty",
    "retrieval_rrf_fusion",
    "emb_hard_negatives",
    "curation_source_gate",
    # r9 continuation 3: DSIR importance selection + Markov transitions
    "corpus_dsir_select",
    "events_transitions",
    # r9 continuation 3: trust propagation through duplicate closures
    "dedup_cluster_trust",
    # r9 continuation 3: one-row dataset card
    "corpus_datasheet",
    # r9 continuation 3: cluster-safe (fuzzy-dup-safe) split
    "sample_split_cluster_safe",
    # r9 continuation 3: time-to-conversion latency distribution
    "events_time_to_convert",
    # r9 continuation: governance family — k-anonymity/l-diversity census,
    # cell-suppression retention audit, deterministic shard manifest
    "privacy_k_anonymity",
    "privacy_suppression",
    "privacy_generalization",
    "corpus_shard_manifest",
    # events → training-corpus bridge: sessionized logs rendered as docs
    "corpus_from_events",
    # r10: the export→re-read→verify round-trip audit (includes a real
    # partitioned parquet write — the timing IS the export cost) + the
    # r1-stale TPC-H pair rotated back into the driver window
    "corpus_shard_audit",
    "tpch_q15",
    "tpch_q19",
    # r11: the backlog-emptying rotation (VERDICT r10 item 1) — every
    # driver-window query keeps a bench row; the parity drills are
    # sub-0.5 s each, the IVF twin times the measured candidate
    # generator alternative against its LSH default round-over-round
    "corpus_mixture_sample",
    "corpus_mixture_plan",
    "dedup_embedding_cosine_ivf",
    "chunk_content_defined",
    "p2_filter_eq",
    "p7_in_list",
    "s1_scan_project",
    "a2_scalar_agg",
    "o3_topn_limit",
    "tpch_q17",
    "tpch_q22",
    # r11 continuation: the new eval-governance family — exact-integer
    # IR metrics (run + qrels + metrics in one plan) and the
    # reverse-direction benchmark-leakage containment report
    "retrieval_eval_metrics",
    "benchmark_leakage_report",
    # r11 continuation: forecasting-safe temporal split + straddle audit
    "sample_split_temporal",
    # r11 continuation: commit-history version diff (first call builds
    # the two-version store — cached per process, same discipline as
    # corpus_shard_audit; the timed runs measure the diff read path)
    "corpus_version_diff",
    # r12 rotation: the five window entrants that had no bench row yet
    # (every driver-window query must hold one)
    "dedup_ngram_jaccard",
    "text_winnow",
    "f_time_functions",
    "p3_like_prefix",
    "w2_latest_per_group",
    # r12 new families: margin-based bitext mining + the prefix-filter
    # exact-recall jaccard tier
    "emb_bitext_mine",
    "dedup_jaccard_prefix",
    # r12: session-basket association rules
    "events_assoc_rules",
    # r13 rotation: the five r4-evidence window entrants that had no
    # bench row yet (every driver-window query must hold one)
    "ann_ivf",
    "sample_train_val_test",
    "range_join",
    "text_token_count",
    "p11_case_join_key",
    # r13 new families: the IVF-generator bitext tier (times the 100 TB
    # candidate path against its exact twin round-over-round) and the
    # content-level image dedup chain (real PNG pixel decode → integer
    # aHash → banded Hamming LSH)
    "emb_bitext_mine_ivf",
    "multimodal_phash_dedup",
    # r13 continuation: the audio twin of the image dedup chain (real
    # PCM decode → gain-invariant energy-sign fingerprint → the shared
    # banded Hamming tail)
    "multimodal_audio_dedup",
    # r14 rotation: the four window entrants that had no bench row yet
    # (every driver-window query must hold one)
    "sample_stratified_quota",
    "embedding_centroids",
    "tpch_q10",
    "tpch_q12",
    # r14 new family: frame-sampled video content dedup (SVID container
    # parse → per-frame pixel decode → integer aHash → the shared banded
    # tail over frame signatures → min cross-frame Hamming)
    "multimodal_video_dedup",
    # r14 continuation: perceptual image search — radius-limited exact
    # Hamming top-k (multi-index Hamming search on the shared banding)
    "multimodal_phash_topk",
]

# timed and reported under "demo", EXCLUDED from the headline total: these
# exist to measure an anti-pattern against its fix, not to represent the
# engine. Currently: the dim-512 LSH signature pair — identical output,
# Catalyst-expression (8192 literal weight nodes, codegen-dominated) vs
# Arrow/NumPy matmul; the measured reason the vectorized path is the
# production default above ~dim 128 (see PERF.md).
DEMO_QUERIES = [
    "sig_expr_d512",
    "sig_vec_d512",
]

# The driver keeps only the last 2000 chars of stdout; the stdout dict is
# capped to the driver window (<= 50 queries), so the budget now leaves
# >=10% headroom permanently (it overflowed twice under the all-queries
# rendering: r6, r7; r8 was down to 2.7% headroom).
STDOUT_LINE_BUDGET = 1800


def render_stdout_line(
    total_sec: float,
    timings_sec: dict[str, float],
    stdout_names: list[str] | None = None,
    load: float | None = None,
) -> str:
    """The ONE line the driver parses: ms-integer values, compact JSON.

    ``stdout_names`` caps the per-query dict to a stable subset (the
    driver-window queries) so the line length is bounded by the 50-entry
    driver window, not by inventory growth — the r8 line had only 2.7%
    headroom at 83 queries (VERDICT r8 item 4). ``total`` is ALWAYS the
    full headline-set total and ``nq`` its query count; the complete
    per-query map lives in ``BENCH_DETAIL.json``.

    ``load`` (r15, VERDICT r14 item 2): the PRE-WARMUP 1-minute loadavg,
    centi-load integer (1.5 load → 150) so the line stays all-int. Both
    r13 and r14 driver benches ran on a contended host and the PERF
    comparison was voided with nothing on the parsed line to attribute
    it; this field makes the stdout line self-describing — a reader can
    weight (or discard) the totals by external machine load without the
    BENCH_DETAIL sidecar. Existing keys are unchanged (additive only).
    """
    names = [n for n in (stdout_names or list(timings_sec)) if n in timings_sec]
    doc = {
        "total": int(round(total_sec * 1000)),
        "nq": len(timings_sec),
    }
    if load is not None:
        doc["load"] = int(round(load * 100))
    doc["q"] = {n: int(round(timings_sec[n] * 1000)) for n in names}
    return json.dumps(doc, separators=(",", ":"))


def force_full(df) -> int:
    """Evaluate EVERY output column of a query, JVM-side.

    ``count()`` lets Catalyst prune projected columns (and, behind an
    aggregated-right left join, most of a plan's real work): measured r8,
    ``dedup_strip_spans``'s count() plan ran 1.4 s where full evaluation
    costs 9.8 s on a 10× corpus — the bench was timing a pruned plan for
    every narrow-map/left-join query whose cost lives in computed columns
    (strip, PII redact, normalize…). Summing a 64-bit hash of the full
    row struct forces all columns through whole-stage codegen with ~zero
    collection cost (one long back to the driver) and no Python row path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    # xxhash64 rejects MapType (unordered — no canonical hash); serialize
    # map columns through to_json so a future map-emitting query benches
    # instead of failing analysis (ADVICE r8)
    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = F.struct(*cols)
    n = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(row)).alias("h")
    ).collect()[0]["n"]
    return n


def emit_stdout_line(line: str) -> None:
    """Print the result line on a line of its own, flushed.

    The leading newline ends any unterminated output before it — Spark's
    console progress bar redraws with ``\r`` and never ends its line — so
    the last ``\n``-separated line of stdout is always the JSON. Call it
    last: nothing may follow it on either stream."""
    sys.stderr.flush()
    print("\n" + line, flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None  # non-sfN dir name; timings still valid
    # shuffle partitions sized to the bench scale (sub-GB inputs): 8 reduce
    # partitions keep per-stage scheduling overhead low; AQE still splits
    # skew. A cluster run against TB inputs would use hundreds+ (set
    # SPARK_GRAFT_SHUFFLE_PARTITIONS).
    spark = get_spark(
        app_name="bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")),
        # AQE's stage materialization costs 30-45% at MB scale and pays off
        # only when shuffles are GB+ (skew splitting, runtime coalescing).
        # The engine default keeps AQE ON; the bench at sf0.1 measures the
        # operators, not AQE overhead. Cluster runs: SPARK_GRAFT_BENCH_AQE=true.
        extra_conf={
            "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_BENCH_AQE", "false"),
            # the \r-redrawn stage bar would share stdout with the result
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # loadavg BEFORE the warm-up phase: the warm-up itself generates load,
    # so `loadavg_start` (read after it) partly measures our own decay —
    # this reading is the one that shows EXTERNAL machine contention
    load_pre_warmup = os.getloadavg()
    # session warm-up: trivial action to pay JVM startup once
    spark.range(1000).count()
    # per-query codegen warm-up at the smallest scale factor: compiles each
    # query's generated code against tiny inputs so the timed run measures
    # execution, not Janino compilation (same plan shapes → compiled-class
    # cache hits). Skipped when no sibling sf0.001 exists.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir.rstrip("/"):
        for name in BENCH_QUERIES + DEMO_QUERIES:
            fn, _ = FULL_QUERIES[name]
            force_full(fn(spark, warm_dir))

    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    def _time(names: list[str]) -> tuple[dict[str, float], dict[str, float]]:
        samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(runs):
            for name in names:
                fn, _ = FULL_QUERIES[name]
                t0 = time.perf_counter()
                n = force_full(fn(spark, sf_dir))
                samples[name].append(time.perf_counter() - t0)
                assert n >= 0
            # drain garbage between rounds, not mid-round. Python gc FIRST:
            # dead DataFrame wrappers hold py4j refs that pin JVM plan/block
            # state (localCheckpoint blocks especially) until released —
            # without it the 65-query rounds accumulate block-manager
            # pressure and the iterative queries' timings inflate 2-4×
            import gc as _gc

            _gc.collect()
            spark._jvm.System.gc()
        med = {n: round(statistics.median(s), 3) for n, s in samples.items()}
        # per-query median absolute deviation: the artifact-level noise
        # bound VERDICT r5 item 4 asked for — a whole-set drift whose
        # per-query deltas sit inside ~3×MAD is machine noise, not a plan
        # regression, attributable from this JSON alone
        mad = {
            n: round(statistics.median(abs(x - statistics.median(s)) for x in s), 3)
            for n, s in samples.items()
        }
        return med, mad

    load_start = os.getloadavg()
    timings, query_mad = _time(BENCH_QUERIES)
    demo, _ = _time(DEMO_QUERIES)
    load_end = os.getloadavg()
    total = round(sum(timings.values()), 3)
    # quiet-machine gate (VERDICT r13 item 9): a contended box (1-min
    # pre-warmup load > 1 — this process's own threads haven't started
    # yet) produces timings that cost a clean round-over-round read
    # (the r13 4.17-load artifact). The COMMITTED sidecar is preserved:
    # contended details land in BENCH_DETAIL.noisy.json (gitignored), and
    # the stdout line's ``load`` field carries the same signal.
    contended = load_pre_warmup[0] > 1.0
    detail_name = "BENCH_DETAIL.noisy.json" if contended else "BENCH_DETAIL.json"
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "total": total,
                "sf": sf,
                "runs": runs,
                "aggregation": "median_per_query_over_interleaved_rounds",
                "queries": timings,
                # per-query median absolute deviation: the noise bound —
                # a drift inside ~3×MAD is machine noise, not a regression
                "query_mad": query_mad,
                "demo": demo,
                # 1/5/15-min loadavg before and after the timed runs: a
                # loaded machine (1-min load far above this process's ~32
                # busy threads) marks the round's totals as contended
                "loadavg_pre_warmup": [round(x, 2) for x in load_pre_warmup],
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in load_end],
            },
            f,
            indent=1,
        )
        f.write("\n")
    # stdout carries ONLY the compact ms-integer line (see module
    # docstring; test_bench_contract.py pins its length budget)
    emit_stdout_line(
        render_stdout_line(
            total,
            timings,
            stdout_names=DRIVER_QUERY_ORDER,
            load=load_pre_warmup[0],
        )
    )


if __name__ == "__main__":
    main()
