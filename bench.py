#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline quality pipeline (langid→ppl→rules→detect→scrub→keep)
over the synthetic pages corpus amplified from $SPARK_GRAFT_SF_DIR's
documents table, plus a set of representative queries from
__spark_entry__. Config via env:

  SPARK_GRAFT_SF_DIR   input dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local cores (default: every core of the host)
  SPARK_DRIVER_MEMORY  driver heap (default: half the host's RAM, <= 16g)
  BENCH_MULTIPLIER     pages per seed doc (default 4 → 20k pages at sf0.1)

The two-parallelism scaling evidence (BASELINE.md: N vs 4N executors →
local[8] vs local[32]) is produced by scripts/scaling_bench.sh, which
invokes this file at both core counts.
"""

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from pii_extract_base_spark.config import host_cores  # noqa: E402

CPUS = host_cores()
MULTIPLIER = int(os.environ.get("BENCH_MULTIPLIER", "64"))
N_TRIALS = int(os.environ.get("BENCH_TRIALS", "5"))

# representative per-operator queries (subset of __spark_entry__.queries())
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q03_nation_revenue",
    "q04_segment_top_customers",
    "q08_user_sessions",
    "q10_token_stats",
    "q11_quality_rules",
    "q12_exact_dup_groups",
    "q14_knn_cosine_top5",
    "q16_minhash_signatures",
    "q17_embedding_near_dups",
    "q22_lsh_dup_candidates",
    "q23_simhash",
    "q33_lsh_bucket_knn",
    "q42_session_windows",
    "q43_purchase_click_asof",
    "q44_tfidf_top_terms",
    "q45_price_band_ranges",
    "q47_ngram_jaccard_dups",
    "q48_salted_skew_join",
    "q57_langid_sql",
    "q58_span_dedup",
    "q60_bloom_blocklist",
    "q64_html_extract",
    "q66_pagerank",
    "q68_url_canonical",
    "q72_bpe_token_stats",
    # round-4 additions: the re-shaped / newly-oracled operators
    "q28_approx_stats",          # KMV + histogram-quantile sketches
    "q49_quality_quantile_cut",  # two-phase scale-safe quantile cut
    "q53_dup_clusters",          # connected-components dup clustering
    "q63_ppl_sql",               # SQL perplexity twin
    "q67_logreg_quality",        # distributed logistic regression
    "q70_mixture_sample",        # two-phase dataset mixing
    "q81_domain_cap_scalable",   # r5: skew-free per-domain cap
    "q74_pq_adc_topk",           # PQ asymmetric-distance ANN
    "q80_ivfpq_topk",            # r5: IVF-PQ composed search (IVFADC)
    "q82_ivfpq_residual_topk",   # r5: residual IVFADC (per-list ADC)
    "q96_ivfpq_rerank",          # r5: IVFADC+R exact re-rank
    "q78_chunk_context_scan",    # D1 chunk-context scan (SQL twin)
    "q83_semantic_dedup",        # r5: SemDeDup cluster-bucketed prune
    "q84_dsir_weights",          # r5: DSIR importance weights
    "q86_contamination_frac",    # r5: graded eval-overlap report
    "q88_line_dedup",            # r5: CCNet boilerplate line dedup
    "q89_pack_examples",         # r5: concat-and-chunk sequence packing
    "q95_bpe_packed_examples",   # r5: tokenizer-true packed examples
    "q90_lm_fit_ppl",            # r5: corpus-fit bigram LM + scoring
    "q91_cluster_retention",     # r5: quality-aware cluster retention
    "q92_tokenizer_eval",        # r5: per-lang fertility/compression
    "q93_url_keep_latest",       # r5: keep-latest-crawl URL dedup
    "q94_packed_examples",       # r5: packed-example writer (q89's half)
    "q97_leakage_safe_split",    # r5: group-level train/val/test split
    "q98_dsir_resample",         # r5: DSIR Gumbel-top-k resampling
    "q99_temperature_mixture",   # r5: p^alpha language mixture
    "q100_ccnet_ppl_buckets",    # r5: CCNet head/middle/tail layout
    "q101_doremi_weights",       # r5: DoReMi domain reweighting
]


def main() -> int:
    from pii_extract_base_spark.config import get_spark
    from pii_extract_base_spark.pipeline import QualityPipeline
    from pii_extract_base_spark.sources.pages import synth_pages
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # -- headline: pipeline throughput -------------------------------------
    # warm the JVM + Python workers with a tiny run (excluded from timing)
    warm = synth_pages(spark, SF_DIR).limit(64)
    QualityPipeline()(warm).agg({"n_entities": "sum"}).collect()

    # Materialize the synthetic corpus to parquet once, OUTSIDE the timed
    # region (input generation is not pipeline work), reused across runs
    # of the same sf/multiplier — so the 8-core and 32-core scaling runs
    # time the identical parquet input.
    tag = Path(SF_DIR).name
    pages_pq = f"/tmp/bench_pages_{tag}_x{MULTIPLIER}"
    if not Path(pages_pq, "_SUCCESS").exists():
        (synth_pages(spark, SF_DIR, repartition=64, multiplier=MULTIPLIER)
         .write.mode("overwrite").parquet(pages_pq))

    # explicit repartitioning happens at ingest; salting-by-url
    # (partitioning.salted_repartition) is the policy for skewed
    # production layouts — the synth layout is uniform, so a plain
    # round-robin to 2 partitions/core suffices.
    pages = spark.read.parquet(pages_pq).repartition(2 * CPUS)
    pipe = QualityPipeline()
    # median of 3 trials: this sandbox's virtualized kernel injects
    # large, bursty system-time noise (identical runs vary 2-3x), and a
    # single sample routinely misstates throughput in either direction
    trials = []
    for _ in range(N_TRIALS):
        t0 = time.time()
        agg = pipe(pages).selectExpr(
            "count(*) as n", "sum(cast(keep as int)) as kept",
            "sum(n_entities) as ents").collect()[0]
        trials.append(time.time() - t0)
    pipeline_sec = sorted(trials)[len(trials) // 2]
    n_docs = agg.n

    # -- per-query timings ---------------------------------------------------
    queries = entry_mod.queries()
    timings = {"pipeline": round(pipeline_sec, 3)}
    for name in BENCH_QUERIES:
        t0 = time.time()
        df = queries[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)

    print(json.dumps({
        "metric": "pipeline_wall_sec",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1 if "sf0.1" in SF_DIR else SF_DIR,
        "docs": n_docs,
        "docs_per_sec": round(n_docs / pipeline_sec, 1),
        "kept": int(agg.kept),
        "entities": int(agg.ents),
        "cores": CPUS,
        "multiplier": MULTIPLIER,
        "trials": [round(t, 3) for t in trials],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
