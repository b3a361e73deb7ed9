"""Headline-query benchmark.

Runs a representative query per operator family at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
where "queries" holds only the slowest entries that fit a ~1600-byte
line (the driver tail-captures ~2000 bytes); the FULL per-query map is
always written to BENCH_DETAIL.json alongside rolling best-knowns.

Each query is forced with a noop-format write (full computation, no
driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q_top_orders_per_cust",
    "q_nest_customer_orders",
    "q_pipeline_e2e",
    "q_fixed_width_roundtrip",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_strict",
    "ann_bruteforce_topk",
    # added r6: ANN serving against the persisted IVF index (train
    # once, serve many); its setup builds the index per sf_dir so the
    # timing measures the per-query serve, not the one-time train
    "ann_ivf_topk_indexed",
    "text_quality_score",
    "text_fingerprint",
    "q_corpus_curation",
    "stream_sessionize",
    "stream_tumbling_agg",
    "q_asof_join",
    "q_moving_window_revenue",
    # added r3: the widest join in the suite + the CDC primitive
    "q8_market_share",
    "q_snapshot_diff",
    # added r4: corpus curation ops (decontamination joins the dedup
    # family as a headline scale stressor; packing covers the window
    # path over documents)
    "q_decontaminate",
    "q_sequence_packing",
    # added r5: the Gopher repetition filter (per-doc shingle-count
    # shuffles), real per-row XSLT execution and Unicode NFC (the
    # pandas-UDF paths' scale behavior belongs in the headline
    # evidence), and temperature sampling (tiny-agg + scan shape)
    "q_repetition_filter",
    "q_xsl_execute",
    "q_unicode_normalize",
    "q_temperature_sample",
    "dedup_cross_corpus",
    # added r6: the persisted-index variant — the shape an incremental
    # pipeline actually runs (standing corpus signed once, stored);
    # its setup builds the index per sf_dir so the timing measures the
    # per-crawl query, not the one-time index build
    "dedup_cross_corpus_indexed",
    # exact duplicated-substring coverage: one window-hash shuffle over
    # every overlapping 8-token window — a corpus-tokens-sized shuffle,
    # the heaviest honest scan shape in the curation family
    "q_substring_dedup",
    # r6 event-analytics + modality representatives
    "q_cohort_retention",
    "q_grouping_sets",
    "mm_audio_pipeline",
    # added late-r6: the sliding-distinct fan-out shape, the basket
    # self-join shape, and the two-pass blocked linkage joins
    "q_rolling_distinct_users",
    "q_copurchase_pairs",
    "q_record_linkage",
    # r7 additions
    "ann_pq_topk_indexed",
    "q_token_pmi",
    "q_minhash_accuracy",
    "q21_waiting_suppliers",
    "q_session_paths",
    # r8 additions: the Arrow grouped-map shape (capped sessionization),
    # the banded perceptual-hash pair join, and the trigram-keyed
    # novelty shuffle — the round's three new physical shapes
    "q_session_cap_split",
    "mm_image_phash",
    "q_ngram_novelty",
    # late-r8: trained-k SemDeDup — the within-cell pairwise-cosine
    # shape whose pair volume k deliberately bounds (~N^2/2k) — and its
    # linear-scale sibling (bucket-hash-join assignment, no N x k scan)
    "dedup_semantic_trained",
    "dedup_semantic_lsh",
    # final late-r8 shapes: the iterative vocab-frame training loop and
    # the hashed-feature importance scorer
    "q_bpe_train3",
    "q_dsir_weights",
    # r9 additions: the sparse token-keyed similarity join (dot product
    # AS join), the constant-query retrieval scorer, and the 64x
    # hash-seeded bootstrap fan-out — the round's new physical shapes
    "q_tfidf_cosine_pairs",
    "q_bm25_topk",
    "q_bootstrap_ci",
    # late-r9: the alternating star-contraction iterative shape (CC
    # with log-round convergence) and the bigram-vocab scoring join
    # behind the LM fluency screen
    "dedup_clusters_bigstar",
    "q_lm_fluency_filter",
    # late-r9: filter-evaluation statistics — the domain-bounded
    # Mann-Whitney window and the two map-side-combinable contingency
    # reductions
    "q_filter_auc",
    "q_score_calibration",
    "q_judge_agreement",
    # r10 additions: the composed IVFPQ serving index (probe cells,
    # ADC-scan only their packed codes, exact rerank — its setup builds
    # the index so the timing is the per-query serve), the ANN-backed
    # label-noise audit that replaced the registry's slowest sf1 query,
    # and the unranked LSH radius query
    "ann_ivfpq_topk_indexed",
    "q_label_noise_audit",
    "ann_range_search",
    # r13 additions: the rotated-ADC serving shape against the
    # persisted OPQ index (its setup builds it — queries pay one Arrow
    # matmul rotation + the packed-code scan, matching the other
    # indexed entries; the unindexed ann_opq_topk, like ann_pq_topk,
    # carries the one-time train cost and is gate-verified instead),
    # the paragraph exact+near-dup -> per-doc keep/trim/drop rollup,
    # and the persisted winnowing-index probe
    "ann_opq_topk_indexed",
    "dedup_doc_fuzzy_verdict",
    "q_winnow_incremental",
    # late-r13 additions: the cell-blocked all-pairs kNN-graph (pair
    # volume is the honest scale stressor; window + three-consumer
    # checkpoint), the range-partitioned prefix-max skyline scan, the
    # grouped-map Holt recurrence over day-dense series, and the
    # checkpointed fixed-iteration Markov absorption loop
    "q_knn_graph",
    "q_skyline_pareto",
    "q_holt_smoothing",
    "q_markov_attribution",
    # r14 additions: the span-trim rebuild (window-hash shuffle + token
    # anti-join + per-doc text rebuild — the heaviest new text shape)
    # and the bigram-keyed G2 collocation shuffle
    "q_substring_trim",
    "q_collocation_llr",
    # r15 addition: the FAISS train/add serving shape — its setup
    # builds+appends the two-batch index, min-of-3 then times the
    # indexed serve
    "ann_ivf_append_serve",
    # r16 additions: the dataloader-delivery gate — its setup writes
    # the standing shard artifact, min-of-3 then times the verifier's
    # manifest-verdict scan (the consumer-side integrity pass) — and
    # the graph-ANN walk (centroid-routed beam search over the
    # persisted kNN-graph index; index cached, serve timed)
    "q_training_shards",
    "ann_graph_topk",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from cpx_etl_spark.queries import load_registry
    from cpx_etl_spark.session import get_spark

    queries, _ = load_registry()
    # Dev-only subset knob: SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the
    # headline list (iterating on one query / validating the output
    # contract without a full pass). Unset in driver runs.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = ([n for n in HEADLINE if n in set(only.split(","))]
                if only else list(HEADLINE))
    spark = get_spark("cpx-etl-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Standing artifacts (indexes, shard sets, snapshots) are written
    # once at ingestion in production, not per query: every selected
    # query's registered setup builds its artifact untimed, so the timed
    # passes measure the serve.
    from cpx_etl_spark.queries import SETUPS

    def run_setups(d: str) -> None:
        for name in headline:
            if name in SETUPS:
                SETUPS[name](spark, d)

    run_setups(sf_dir)

    # Warm the JVM + per-plan codegen caches with one pass at the
    # smallest sf so the timed run measures steady-state execution.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in headline:
            queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    # three timed passes per query, keep the min: this box is shared
    # and noisy (up to 4-5x under neighbor load); min-of-3 measures the
    # engine, not the neighbors
    timings: dict[str, float] = {}
    for _pass in range(3):
        for name in headline:
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Rolling best-known minimums (VERDICT r3 item 8): round-over-round
    # comparisons on this shared box are noise-dominated, so alongside
    # this session's min-of-3 we persist the best quiet-run time ever
    # observed per (query, sf) in BENCH_BEST.json and echo it in the
    # output line. A regression is real only when min_of_3 exceeds
    # best_known by more than the box's noise band.
    best_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_BEST.json")
    try:
        with open(best_path) as f:
            best_all = json.load(f)
    except (OSError, ValueError):
        best_all = {}
    # Re-baseline on SEMANTIC change (VERDICT r10 item 7): a best-known
    # recorded against old semantics is not comparable to a query doing
    # strictly different work (q_lm_fluency_filter read 1.39x against
    # its pre-interpolation self). Each query's content digest (same
    # derivation as the gate-sweep ledger) is stored beside the bests;
    # when it drifts, that query's best-known entries reset at EVERY sf
    # and the new digest is recorded — so the 2x bar always compares
    # like against like.
    from cpx_etl_spark.queries import ORACLES, query_digest

    rec_digests = best_all.setdefault("_query_digests", {})
    for name in headline:
        d = query_digest(queries[name], ORACLES.get(name))
        if rec_digests.get(name) not in (None, d):
            for sfk, m in best_all.items():
                if sfk != "_query_digests" and isinstance(m, dict):
                    m.pop(name, None)
        rec_digests[name] = d
    best_sf = best_all.setdefault(str(sf), {})
    for name, dt in timings.items():
        best_sf[name] = min(best_sf.get(name, dt), dt)

    # Machine-readable exclusions (VERDICT r4 item 6): nothing is
    # silently dropped from any bench pass. Empty since r6 — the
    # permanently-excluded dedup_embedding_demo was deregistered to a
    # pytest-only demo (VERDICT r5 item 2), so every headline query now
    # benches at every scale.
    sf1_excluded: dict[str, str] = {}

    detail = {
        "queries": timings,
        "best_known": dict(best_sf),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "excluded": {},
    }

    # Scale evidence: one pass at the derived 10x corpus when present
    # (tools/scale_up.py -> benchdata/sf1).
    sf1_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "benchdata", "sf1")
    if os.path.isdir(sf1_dir) and os.path.abspath(sf_dir) != sf1_dir:
        run_setups(sf1_dir)
        # the sf1 section is single-pass by default (wall-clock); set
        # SPARK_GRAFT_SF1_REPEATS>1 on quiet reruns to record min-of-N
        # and tighten the rolling bests
        sf1_reps = max(1, int(os.environ.get("SPARK_GRAFT_SF1_REPEATS", "1")))
        sf1_timings: dict[str, float] = {}
        for _pass in range(sf1_reps):
            for name in headline:
                if name in sf1_excluded:
                    continue
                t0 = time.time()
                queries[name](spark, sf1_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 3)
                sf1_timings[name] = min(sf1_timings.get(name, dt), dt)
        best_sf1 = best_all.setdefault("1", {})
        for name, dt in sf1_timings.items():
            best_sf1[name] = min(best_sf1.get(name, dt), dt)
        detail["sf1_queries"] = sf1_timings
        detail["sf1_total"] = round(sum(sf1_timings.values()), 3)
        detail["sf1_best_known"] = dict(best_sf1)
        detail["sf1_excluded"] = sf1_excluded

    # A SPARK_GRAFT_BENCH_ONLY subset run never overwrites the round
    # artifacts (ADVICE r14): BENCH_DETAIL.json/BENCH_BEST.json must
    # always reflect a FULL pass, and the stdout line marks the run as
    # partial so it can't be mistaken for one.
    if not only:
        try:
            with open(best_path, "w") as f:
                json.dump(best_all, f, indent=1, sort_keys=True)
        except OSError:
            pass  # read-only checkout: still print the line

    # Per-query breakdown and rolling minimums go to BENCH_DETAIL.json;
    # stdout carries ONE compact line, printed LAST — r4's official
    # bench artifact was `parsed: null` because the line outgrew the
    # driver's tail-capture window (VERDICT r4 item 5).
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    if not only:
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError:
            pass

    # The driver captures only the last ~2000 bytes of stdout; r13's
    # line embedded all 68 per-query timings and overflowed it
    # (BENCH_r13.json parsed: null — VERDICT r13 item 1, a regression
    # of the r4 fix). The official line now carries a BOUNDED "queries"
    # map: slowest-first entries are added only while the serialized
    # line stays under _LINE_BUDGET bytes; the full map always lives in
    # BENCH_DETAIL.json (written above).
    _LINE_BUDGET = 1600
    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "detail": "BENCH_DETAIL.json",
        "sf": detail["sf"],
    }
    if "sf1_total" in detail:
        result["sf1_total"] = detail["sf1_total"]
        result["sf1_excluded_n"] = len(sf1_excluded)
    if only:
        # partial run: name the subset in the line and skip artifact
        # writes above — headline_queries_total covers ONLY these
        result["subset"] = sorted(headline)
    for name, dt in sorted(timings.items(), key=lambda kv: -kv[1]):
        result["queries"][name] = dt
        if len(json.dumps(result)) > _LINE_BUDGET:
            del result["queries"][name]
            break
    print(json.dumps(result))


if __name__ == "__main__":
    main()
